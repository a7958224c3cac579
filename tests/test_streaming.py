"""Streaming folds == batch folds on the same data (the reference's
incremental-fold semantics carried onto Structured Streaming)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from icicle_spark.plans import Agg, Feature, Plan, Window, run_plan
from icicle_spark.sources.fixtures import token_facts
from icicle_spark.streaming import (
    stream_fold,
    stream_session_agg,
    stream_windowed_agg,
)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("streamsrc"))
    # two files => two logical arrival chunks
    facts = token_facts(spark, n_rows=1200, n_docs=60)
    facts.where(F.col("seq") % 2 == 0).coalesce(1).write.mode("overwrite").parquet(d + "/a")
    facts.where(F.col("seq") % 2 == 1).coalesce(1).write.mode("append").parquet(d + "/a")
    return d + "/a"


def _stream(spark, path):
    """The file stream over ``path``, one file per micro-batch: under
    ``availableNow`` a file source otherwise reads every present file
    in ONE batch, and no fold state would cross batches."""
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)


def _run_stream(spark, df, tmp, name):
    """Run a stream_fold frame to the end in complete mode: the memory
    sink then holds each entity's final fold values, nulls included.
    The run must have crossed micro-batches."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tmp + f"/ck_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2
    return spark.sql(f"SELECT * FROM {name}"), q


def _same(got, want) -> None:
    """Equal frames by entity: same dtypes, same values (nulls equal)."""
    assert dict(got.dtypes) == dict(want.dtypes)
    got = got.toPandas().set_index("doc_id").sort_index()
    want = want.toPandas().set_index("doc_id").sort_index()
    assert list(got.index) == list(want.index)
    for c in want.columns:
        g, w = got[c], want[c]
        both = g.isna() & w.isna()
        assert (g.isna() == w.isna()).all(), c
        assert np.allclose(g[~both].astype("float64"), w[~both].astype("float64")), c


# null only on facts of the second file (odd seq): its poison must be
# carried in from the second micro-batch
_LATE_NULL = (
    "CASE WHEN seq % 2 = 1 AND n_tok % 7 = 0 THEN NULL"
    " ELSE coalesce(n_tok, 0) END"
)

STREAM_FOLDS = [
    *[
        Feature(n, a, "n_tok", skip_nulls=True)
        for n, a in [
            ("s", Agg.SUM), ("c", Agg.COUNT), ("m", Agg.MEAN),
            ("mn", Agg.MIN), ("mx", Agg.MAX), ("nw", Agg.NEWEST),
            ("od", Agg.OLDEST), ("v", Agg.VARIANCE), ("sd", Agg.SD),
        ]
    ],
    Feature("an", Agg.ANY, "n_tok > 40", skip_nulls=True),
    Feature("al", Agg.ALL, "n_tok > 1", skip_nulls=True),
    Feature("fc", Agg.COUNT, "n_tok", where="n_tok > 10", skip_nulls=True),
    Feature("pn", Agg.SUM, _LATE_NULL, skip_nulls=False),
    Feature("pnw", Agg.NEWEST, "n_tok", skip_nulls=False),
    Feature("pv", Agg.SD, "n_tok", skip_nulls=False),
]


def test_stream_fold_matches_batch(spark, stream_dir, tmp_path):
    """Over two micro-batches the final state of every streamable fold
    equals the batch engine's, on the native and the cogroup backend:
    values, Possibly poison, NEWEST/OLDEST (time, seq) ties and the
    output dtypes."""
    batch_df = spark.read.parquet(stream_dir)
    plan = Plan(STREAM_FOLDS, entity_col="doc_id", time_col="event_time",
                seq_col="seq")
    out, _ = _run_stream(
        spark, stream_fold(_stream(spark, stream_dir), plan), str(tmp_path),
        "foldstream",
    )
    for strategy in ("native", "cogroup"):
        _same(out, run_plan(batch_df, plan, snapshot="2099-01-01",
                            strategy=strategy))
    # the late null is absent from the first file, and poisons some
    # entities but not all
    first = batch_df.where("seq % 2 = 0").selectExpr(f"({_LATE_NULL}) AS x")
    assert first.where("x IS NULL").count() == 0
    pn = out.toPandas()["pn"]
    assert pn.isna().any() and pn.notna().any()


def test_stream_fold_has_no_python_node(spark, stream_dir, tmp_path):
    """The streaming fold is a Catalyst aggregate over a state store."""
    plan = Plan(STREAM_FOLDS, entity_col="doc_id", time_col="event_time",
                seq_col="seq")
    _, q = _run_stream(
        spark, stream_fold(_stream(spark, stream_dir), plan), str(tmp_path),
        "planstream",
    )
    physical = q._jsq.explainInternal(False)
    assert "StateStoreSave" in physical and "HashAggregate" in physical
    for node in ("FlatMapGroupsInPandasWithState", "InPandas", "EvalPython",
                 "PythonMapInArrow"):
        assert node not in physical, node


@pytest.mark.parametrize(
    "feature",
    [
        Feature("w", Agg.SUM, "n_tok", window=Window(30), skip_nulls=True),
        Feature("l", Agg.SUM, "n_tok", latest=3, skip_nulls=True),
        Feature("g", Agg.SUM, "n_tok", group="source", skip_nulls=True),
        Feature("d", Agg.COUNT, "n_tok", distinct="source", skip_nulls=True),
        Feature("f", Agg.NUMFLIPS, "n_tok", skip_nulls=True),
        Feature("ds", Agg.DECAYED_SUM, "n_tok", half_life_days=7.0,
                skip_nulls=True),
    ],
    ids=lambda f: f.name,
)
def test_stream_fold_refuses(spark, stream_dir, feature):
    plan = Plan([Feature("s", Agg.SUM, "n_tok"), feature], entity_col="doc_id",
                time_col="event_time", seq_col="seq")
    with pytest.raises(ValueError, match=repr(feature.name)):
        stream_fold(_stream(spark, stream_dir), plan)


def test_stream_fold_filter_let_parity(spark, stream_dir, tmp_path):
    """filter_let binds in streaming folds: a genuinely partial
    pattern (null below n_tok 5) drops the same facts the batch
    executor drops."""
    batch_df = spark.read.parquet(stream_dir)
    bind = (("b", "CASE WHEN n_tok >= 5 THEN sqrt(n_tok - 5) END"),)
    plan = Plan(
        [
            Feature("sb", Agg.SUM, "b", filter_let=bind, skip_nulls=True),
            Feature("cb", Agg.COUNT, "b", filter_let=bind, skip_nulls=True),
        ],
        entity_col="doc_id",
        time_col="event_time",
        seq_col="seq",
    )
    out, _ = _run_stream(
        spark, stream_fold(_stream(spark, stream_dir), plan), str(tmp_path),
        "flstream",
    )
    _same(out, run_plan(batch_df, plan, snapshot="2099-01-01",
                        strategy="cogroup"))
    # and the pattern is genuinely partial on this corpus
    assert (out.toPandas()["cb"] > 0).any()
    raw = batch_df.toPandas()
    assert (raw["n_tok"] < 5).any()


def test_stream_windowed_and_session(spark, stream_dir, tmp_path):
    schema = spark.read.parquet(stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    win = stream_windowed_agg(
        stream, "source", "event_time", "n_tok", window="30 days"
    )
    q = (
        win.writeStream.format("memory")
        .queryName("winstream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_w"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM winstream").toPandas()
    # append mode + watermark: windows still open at end-of-stream are
    # withheld; check a CLOSED window against the batch equivalent
    batch = (
        spark.read.parquet(stream_dir)
        .groupBy("source", F.window("event_time", "30 days").alias("w"))
        .agg(F.sum("n_tok").alias("sum_val"), F.count(F.lit(1)).alias("cnt"))
        .select(
            "source",
            F.col("w.start").alias("window_start"),
            "sum_val",
            "cnt",
        )
        .toPandas()
    )
    if len(got):
        m = got.merge(batch, on=["source", "window_start"], suffixes=("_s", "_b"))
        assert len(m) == len(got)
        assert (m.sum_val_s == m.sum_val_b).all()
        assert (m.cnt_s == m.cnt_b).all()

    sess = stream_session_agg(stream, "doc_id", "event_time", gap="10 days")
    q2 = (
        sess.writeStream.format("memory")
        .queryName("sessstream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_s"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got2 = spark.sql("SELECT * FROM sessstream").toPandas()
    assert got2.n_events.sum() >= 0  # session stream runs end-to-end


@pytest.mark.parametrize("method", ["minhash", "simhash"])
def test_stream_minhash_ingest(spark, tmp_path_factory, tmp_path, method):
    """Streaming near-dup ingest against the self-extending index
    (MinHash band / SimHash chunk): a later micro-batch's dup of an
    earlier batch's doc is dropped; genuinely new docs survive and
    extend the index."""
    import numpy as np

    from icicle_spark.streaming import minhash_ingest_sink

    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from the warm windowsill and the birds sing outside")
    rng = np.random.default_rng(3)
    vocab = base.split()
    src = str(tmp_path_factory.mktemp("ingest_src"))
    rows1 = [(0, base)] + [
        (i, " ".join(rng.choice(vocab, size=30))) for i in range(1, 6)
    ]
    rows2 = [
        (10, base.replace("windowsill", "doorstep")),  # near dup of 0
        (11, " ".join(rng.choice(vocab, size=30))),    # new
        (12, rows1[3][1]),                             # exact dup of 3
    ]
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(pd.DataFrame(rows1, columns=["doc_id", "text"]))
    b2 = spark.createDataFrame(pd.DataFrame(rows2, columns=["doc_id", "text"]))
    b1.coalesce(1).write.mode("overwrite").parquet(src)

    index = str(tmp_path / "index")
    texts = str(tmp_path / "texts")
    out = str(tmp_path / "out")
    sink = minhash_ingest_sink(index, texts, out, threshold=0.5,
                               method=method)

    def run_available():
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck_ingest"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_available()                       # batch 1 seeds the index
    b2.coalesce(1).write.mode("append").parquet(src)
    run_available()                       # batch 2 dedups against it

    kept = set(
        spark.read.parquet(out).toPandas()["doc_id"].tolist()
    )
    assert set(range(6)) <= kept          # all of batch 1 survives
    assert 11 in kept                     # new doc survives
    assert 12 not in kept                 # exact dup of doc 3 dropped
    if method == "minhash":
        # Jaccard catches the one-word-changed near dup; a single word
        # flip can exceed a 3-bit SimHash hamming budget on 20 words
        assert 10 not in kept
    # the index extended with the survivors, not the dropped dups
    idx_ids = set(
        spark.read.parquet(index).select("doc_id").distinct().toPandas()["doc_id"]
    )
    assert 11 in idx_ids and 12 not in idx_ids


def test_stream_exact_dedup(spark, tmp_path_factory, tmp_path):
    """Streaming first-arrival dedup keeps exactly one row per distinct
    normalized content — the same distinct set, under the SAME key, as
    batch exact_dedup (apostrophe/accent texts pinned: doc_fingerprint
    would key "don't stop" and "don t stop" differently)."""
    from icicle_spark.operators.dedup import exact_key
    from icicle_spark.streaming import stream_exact_dedup

    d = str(tmp_path_factory.mktemp("dedupsrc"))
    texts = ["the quick fox", "lazy dog", "the quick  FOX", "new content",
             "lazy dog", "unique one", "don't stop", "don t stop"]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(range(len(texts)), unit="m"),
        }
    )
    batch = spark.createDataFrame(pdf)
    batch.where(F.col("doc_id") < 3).coalesce(1).write.mode("overwrite").parquet(d)
    batch.where(F.col("doc_id") >= 3).coalesce(1).write.mode("append").parquet(d)

    stream = spark.readStream.schema(batch.schema).parquet(d)
    out = stream_exact_dedup(stream, "text", time_col="ts", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedupstream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM dedupstream").toPandas()
    expect_fps = (
        batch.select(exact_key(F.col("text")).alias("fp"))
        .distinct()
        .count()
    )
    got_fps = (
        spark.createDataFrame(got)
        .select(exact_key(F.col("text")).alias("fp"))
        .distinct()
        .count()
    )
    # normalization folds case/whitespace AND punctuation:
    # "the quick  FOX" == doc 0, "don't stop" == "don t stop"
    assert expect_fps == 5
    assert len(got) == 5 and got_fps == 5


def test_stream_fold_postcomp_parity(spark, stream_dir, tmp_path):
    """Streaming postcomputation stage: `sum v / count v` parsed from
    source matches the batch result at end-of-stream."""
    from icicle_spark.source_lang import parse_program

    batch_df = spark.read.parquet(stream_dir)
    plan = parse_program(
        {"avg_manual": "from s ~> sum n_tok / count n_tok",
         "spread": "from s ~> max n_tok - min n_tok"},
        skip_nulls=True,
        entity_col="doc_id", time_col="event_time", seq_col="seq",
    )["s"]
    out, _ = _run_stream(
        spark, stream_fold(_stream(spark, stream_dir), plan), str(tmp_path),
        "postcompstream",
    )
    assert out.columns == ["doc_id", "avg_manual", "spread"]
    _same(out, run_plan(batch_df, plan, snapshot="2099-01-01",
                        strategy="native"))


def test_stream_line_dedup_ingest(spark, tmp_path_factory, tmp_path):
    """Streaming boilerplate removal against the self-extending
    line-count index: a line repeated only ACROSS batches still drops
    from the later batch (the index carries the earlier count), and
    the final index equals whole-corpus counts."""
    from icicle_spark.operators.dedup import line_hash_counts
    from icicle_spark.streaming import line_dedup_ingest_sink

    src = str(tmp_path_factory.mktemp("line_src"))
    rows1 = [
        (0, "COOKIE BANNER\nunique prose one"),
        (1, "other text\nmore words"),
    ]
    rows2 = [
        # banner seen ONCE in batch 1, once here: cross-batch dup
        (10, "COOKIE BANNER\nfresh content"),
        (11, "repeated twice\nrepeated twice\nkeep me"),
    ]
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(pd.DataFrame(rows1, columns=["doc_id", "text"]))
    b2 = spark.createDataFrame(pd.DataFrame(rows2, columns=["doc_id", "text"]))
    b1.coalesce(1).write.mode("overwrite").parquet(src)

    index = str(tmp_path / "line_index")
    out = str(tmp_path / "line_out")
    sink = line_dedup_ingest_sink(index, out)

    def run_available():
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck_line"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_available()
    b2.coalesce(1).write.mode("append").parquet(src)
    run_available()

    got = {
        r.doc_id: (r.text, r.n_removed)
        for r in spark.read.parquet(out).collect()
    }
    # batch 1 saw the banner only once -> doc 0 kept it whole
    assert got[0] == ("COOKIE BANNER\nunique prose one", 0)
    # batch 2 sees count 2 via the index -> banner drops
    assert got[10] == ("fresh content", 1)
    # intra-batch repetition still drops
    assert got[11] == ("keep me", 2)
    # index == whole-corpus counts (summed over appended partials)
    merged = {
        r.line_hash: r.n_occurrences
        for r in spark.read.parquet(index)
        .groupBy("line_hash").sum("n_occurrences")
        .withColumnRenamed("sum(n_occurrences)", "n_occurrences")
        .collect()
    }
    both = b1.unionByName(b2)
    whole = {
        r.line_hash: r.n_occurrences
        for r in line_hash_counts(both).collect()
    }
    assert merged == whole


def test_stream_fact_store_ingest(spark, tmp_path):
    """Micro-batches land as aligned delta runs; the store's
    merge-on-read view equals the batch union; replayed batch ids are
    no-ops; fan-out triggers auto-compaction."""
    from icicle_spark.sources.io import (
        _store_meta,
        read_fact_store,
        write_fact_store,
    )
    from icicle_spark.streaming import fact_store_ingest_sink

    facts = token_facts(spark, n_rows=900, n_docs=50)
    store = str(tmp_path / "store")
    # seed the store with an empty frame: fixes buckets + key columns
    write_fact_store(
        facts.limit(0), store, "doc_id", "event_time", "seq", buckets=4
    )

    src = str(tmp_path / "src")
    for i in range(3):  # three files -> three micro-batches
        facts.where(F.col("seq") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    sink = fact_store_ingest_sink(store, compact_every=None)
    q = (
        spark.readStream.schema(facts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    meta = _store_meta(store)
    assert len(meta["runs"]) == 3 and meta["batches"] == [0, 1, 2]
    merged, _ = read_fact_store(spark, store)
    a = merged.toPandas().sort_values(
        ["doc_id", "event_time", "seq"], ignore_index=True
    )
    b = facts.toPandas().sort_values(
        ["doc_id", "event_time", "seq"], ignore_index=True
    )
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])

    # replayed batch id: exactly-once no-op
    sink(facts.limit(10), 1)
    meta = _store_meta(store)
    assert len(meta["runs"]) == 3 and meta["batches"] == [0, 1, 2]
    merged, _ = read_fact_store(spark, store)
    assert merged.count() == facts.count()

    # fan-out threshold folds the runs in
    sink2 = fact_store_ingest_sink(store, compact_every=4)
    sink2(facts.limit(7), 3)
    meta = _store_meta(store)
    assert meta["runs"] == [] and meta["batches"] == [0, 1, 2, 3]
    merged, _ = read_fact_store(spark, store)
    assert merged.count() == facts.count() + 7


def test_streaming_drift_matches_batch(spark, tmp_path):
    """The streaming drift monitor accumulated over micro-batches
    equals the batch feature_drift on the same data exactly (fixed
    reference edges make per-batch counts additive)."""
    import numpy as np

    from icicle_spark.operators.reporting import feature_drift
    from icicle_spark.streaming.drift_stream import (
        drift_report,
        drift_sink,
        write_drift_reference,
    )

    rng = np.random.default_rng(8)
    ref_pdf = pd.DataFrame(
        {
            "x": rng.normal(10, 3, 600).round(3),
            "y": rng.integers(0, 40, 600).astype("float64"),
        }
    )
    cur_pdf = pd.DataFrame(
        {
            "x": rng.normal(13, 3, 500).round(3),  # shifted
            "y": rng.integers(0, 40, 500).astype("float64"),
        }
    )
    ref = spark.createDataFrame(ref_pdf)
    cur = spark.createDataFrame(cur_pdf)
    ref_path = str(tmp_path / "ref")
    hist_path = str(tmp_path / "hist.parquet")
    write_drift_reference(ref, ["x", "y"], ref_path)

    src = str(tmp_path / "src")
    # three files -> three micro-batches (maxFilesPerTrigger=1)
    for i in range(3):
        spark.createDataFrame(
            cur_pdf.iloc[i::3]
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(cur.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(drift_sink(ref_path, hist_path))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = drift_report(spark, ref_path, hist_path).toPandas()
    want = feature_drift(ref, cur, ["x", "y"]).toPandas()
    key = ["feature", "bin"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w)
    for c in ["ref_n", "cur_n", "ref_frac", "cur_frac", "psi_term"]:
        assert (g[c].values == w[c].values).all(), c
    # the shift registers
    assert got[got.feature == "x"].psi_term.sum() > 0.25

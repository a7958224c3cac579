"""Corpus-level sequence packing: concatenate every document's token
array in one deterministic global order and slice the stream into
fixed-length training windows (the GPT-style concat-then-chunk shape).

Engine extension for LLM training-data pipelines — no reference
counterpart (the reference's array surface stops at sort/index,
SURVEY §2.7); ``operators/chunking.py`` packs *within* a document,
this packs *across* the corpus.

Scale design (the interesting part). The op needs an exclusive prefix
sum of token counts over a total order — naively a single-partition
global window, which is exactly the kind of plan that dies at 100 TB.
Instead it is a classic two-level distributed prefix sum:

1. within-SEGMENT exclusive cumsum — one hash exchange on
   ``segment_col`` (the leading column of the order), windows running
   in parallel across segments;
2. per-segment totals — a map-side-combined aggregate producing ONE
   ROW PER SEGMENT, collected to the driver (bounded, documented) and
   turned into a literal prefix-offset map;
3. global offset = segment prefix + local cumsum.

``segment_col`` must be the first entry of ``order_cols`` so segment
boundaries are order-aligned. Parallelism of step 1 is the segment
count: with a handful of giant sources, pass a finer order-aligned
segment (a date/shard column from the table layout) — the API takes
any column.

Each document then explodes into at most ``ceil(n/L)+1`` bin pieces
(pure JVM ``transform``/``slice`` over the bin id range), and one
``groupBy(seq_id)`` reassembles windows via
``flatten(sort_array(collect_list(...)))``. Bins hold exactly
``seq_len`` tokens by construction, so the final shuffle is perfectly
balanced regardless of document-length skew. Total: two data shuffles
(segment window + bin group) and one tiny driver-side segment table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def pack_token_sequences(
    df: DataFrame,
    tokens_col: str = "tokens",
    order_cols: tuple[str, ...] = ("source", "doc_id"),
    seq_len: int = 2048,
    eos: int | None = None,
) -> DataFrame:
    """Pack ``tokens_col`` arrays into windows of exactly ``seq_len``
    tokens (the last window of the corpus may be shorter).

    Documents are concatenated in ``order_cols`` order (must be a
    unique key; its first column is the parallel-cumsum segment).
    ``eos`` appends one end-of-document token to every document before
    packing. Documents that contribute no tokens are dropped (with
    ``eos`` set, an empty document still contributes its eos marker).

    Returns ``(seq_id bigint, tokens array, n_tok int, n_docs bigint)``
    — ``n_docs`` counts the documents contributing at least one token
    to the window.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    if len(order_cols) < 1:
        raise ValueError("order_cols must name at least one column")
    segment_col = order_cols[0]

    toks = F.col(tokens_col)
    if eos is not None:
        elem_ty = df.schema[tokens_col].dataType.elementType.simpleString()
        toks = F.concat(toks, F.array(F.lit(int(eos)).cast(elem_ty)))
    d = (
        df.select(*order_cols, toks.alias("__t"))
        .withColumn("__n", F.size("__t").cast("bigint"))
        .where(F.col("__n") > 0)
    )

    # (1) within-segment exclusive cumsum, parallel across segments
    within = list(order_cols[1:]) or [F.lit(1)]
    w = Window.partitionBy(segment_col).orderBy(*within)
    d = d.withColumn("__loc", F.sum("__n").over(w) - F.col("__n"))

    # (2) one row per segment -> driver -> literal prefix map
    seg_rows = (
        d.groupBy(segment_col).agg(F.sum("__n").alias("__tot")).collect()
    )
    if any(r[segment_col] is None for r in seg_rows):
        raise ValueError(
            f"pack_token_sequences: null value in segment column "
            f"{segment_col!r} — order_cols must be a non-null unique key"
        )
    seg_rows.sort(key=lambda r: r[segment_col])
    prefix: dict = {}
    acc = 0
    for r in seg_rows:
        prefix[r[segment_col]] = acc
        acc += r["__tot"]
    if not prefix:  # empty corpus
        return d.select(
            F.lit(0).cast("bigint").alias("seq_id"),
            F.col("__t").alias("tokens"),
            F.lit(0).cast("int").alias("n_tok"),
            F.lit(0).cast("bigint").alias("n_docs"),
        ).limit(0)
    pairs: list[Column] = []
    for k, v in prefix.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(v).cast("bigint"))
    d = d.withColumn(
        "__off",
        F.col("__loc") + F.create_map(*pairs)[F.col(segment_col)],
    )

    # (3) explode into per-window pieces — pure JVM slices
    L = F.lit(int(seq_len)).cast("bigint")
    first_bin = F.floor(F.col("__off") / L)
    last_bin = F.floor((F.col("__off") + F.col("__n") - 1) / L)
    end = F.col("__off") + F.col("__n")
    piece = F.explode(
        F.transform(
            F.sequence(first_bin, last_bin),
            lambda b: F.struct(
                b.alias("seq_id"),
                F.slice(
                    F.col("__t"),
                    (F.greatest(b * L, F.col("__off")) - F.col("__off") + 1
                     ).cast("int"),
                    (F.least((b + 1) * L, end)
                     - F.greatest(b * L, F.col("__off"))).cast("int"),
                ).alias("piece"),
            ),
        )
    )
    pieces = d.select(F.col("__off"), piece.alias("__p")).select(
        F.col("__p.seq_id").alias("seq_id"),
        F.col("__off").alias("__off"),
        F.col("__p.piece").alias("__piece"),
    )

    # (4) reassemble each window: pieces ordered by their doc offset
    return (
        pieces.groupBy("seq_id")
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("__off", "__piece"))
                    ),
                    lambda s: s["__piece"],
                )
            ).alias("tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            F.col("seq_id").cast("bigint").alias("seq_id"),
            "tokens",
            F.size("tokens").alias("n_tok"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
    )


def assign_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "seq_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic global training shuffle + balanced sharding: the
    step after packing, where the sequence stream is randomized (so a
    dataloader reading shards in order sees an i.i.d.-looking stream)
    and split into equal shards for parallel consumption.

    ``shard`` and ``shuffle_key`` are pure functions of
    ``(id, seed)`` via the portable md5 60-bit hash — the same rows
    land in the same shard, in the same within-shard order, at any
    parallelism, on any rerun, in any engine (``Dataset.shuffle`` /
    ``rand()`` give none of these). Hash-mod sharding balances shard
    sizes to within sampling noise regardless of input order or skew.

    Write pattern (see ``jobs/run_tokenize.py --shards``): repartition
    on ``shard``, sort within partitions by ``(shard, shuffle_key)``,
    ``partitionBy("shard")`` — one exchange, shard files internally
    ordered, no global sort."""
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    from icicle_spark.operators.sampling import md5_mod

    h = md5_mod(id_col, f":s{seed}")
    return df.withColumn("shard", F.pmod(h, F.lit(n_shards))).withColumn(
        "shuffle_key", h
    )


def write_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "seq_id",
    seed: int = 0,
    token_col: str | None = "tokens",
) -> list[dict]:
    """Materialize :func:`assign_shards` as ``shard=N/`` parquet
    directories, each internally ordered by the shuffle key, and
    return the per-shard manifest (rows + tokens; ``n_shards`` rows —
    bounded driver collect). ONE exchange: the repartition on
    ``shard`` feeds both the write and nothing else."""
    sharded = (
        assign_shards(df, n_shards, id_col, seed)
        .repartition("shard")
        .sortWithinPartitions("shard", "shuffle_key")
    )
    sharded.write.mode("overwrite").partitionBy("shard").parquet(path)
    out = df.sparkSession.read.parquet(path)
    aggs = [F.count("*").alias("rows")]
    if token_col and token_col in df.columns:
        aggs.append(F.sum(F.size(token_col)).alias("tokens"))
    return [
        {k: int(v) for k, v in r.asDict().items()}
        for r in out.groupBy("shard").agg(*aggs).orderBy("shard").collect()
    ]


def bin_pack_documents(
    df: DataFrame,
    length_col: str = "n_tok",
    order_cols: tuple[str, ...] = ("source", "doc_id"),
    seq_len: int = 2048,
    oversize: str = "error",
    strategy: str = "class",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """No-split bin packing: assign whole documents to fixed-capacity
    training bins of ``seq_len`` tokens WITHOUT ever splitting a
    document across bins (the cross-doc-attention-free alternative to
    :func:`pack_token_sequences`; modern pretraining pipelines pack
    this way so no window mixes unrelated documents).

    Engine extension — no reference counterpart (the reference's array
    surface stops at sort/index, SURVEY §2.7).

    Returns one row per surviving document:
    ``(*order_cols, *extra_cols, doc_len, cls, bin_seq)`` — a
    document's bin is the ``(cls, bin_seq)`` pair (``extra_cols``
    ride through untouched, e.g. the token arrays
    :func:`materialize_bins` concatenates). Documents with ``length <= 0`` or a null
    length are dropped; documents longer than ``seq_len`` cannot be
    packed whole and follow ``oversize``: ``"error"`` (loud executor
    raise, default) or ``"drop"`` (route them to the chunker first if
    you want them kept).

    ``strategy="class"`` (default, exact-oracle): harmonic class
    packing. A document of length ``n`` falls in class
    ``c = floor(seq_len / n)`` — i.e. ``seq_len/(c+1) < n <=
    seq_len/c`` — so exactly ``c`` class-``c`` documents are
    GUARANTEED to fit one bin, and every full bin is more than
    ``c/(c+1)`` full. Within a class, documents are numbered in
    ``order_cols`` order and chunked ``c``-at-a-time:
    ``bin_seq = floor((ordinal - 1) / c)``. The global per-class
    ordinal is a two-level distributed prefix sum exactly like
    :func:`pack_token_sequences`: a row_number windowed per
    ``(class, segment)`` cell (parallelism = classes x segments,
    never a single-task global sort), plus a per-cell count table
    (<= distinct classes x segments rows) whose exclusive cumsum runs
    DISTRIBUTED on that tiny frame and broadcast-joins back — no
    driver collect anywhere, so a fine-grained segment column cannot
    blow the driver. Deterministic at any parallelism, and replayable
    in ANSI SQL as one window function — the contract oracle.

    ``strategy="ffd"``: first-fit-decreasing refinement (classes are
    not used — ``cls`` is reported as -1). Each SEGMENT's documents
    are packed by the classic FFD heuristic
    (sort by length desc, place each doc into the lowest-numbered bin
    with room, new bin otherwise) via one ``applyInPandas`` per
    segment. Per segment it never uses more bins than class packing
    of that segment alone (it places documents class by class, longest
    first, and a bin opened for class-``c`` documents takes ``c`` of
    them before another opens), and at most 11/9 OPT + 1. It is NOT
    always tighter than class packing overall: class bins mix
    segments, so many small segments can cost FFD more bins in total
    (five one-token documents in five segments: one class bin, five
    FFD bins). Still deterministic, but sequential per segment — size
    segments accordingly. Not SQL-replayable (rows-only in the driver
    gate); the per-segment bound and bin validity are pytest-pinned
    instead.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    if len(order_cols) < 1:
        raise ValueError("order_cols must name at least one column")
    if oversize not in ("error", "drop"):
        raise ValueError(f"oversize must be error|drop: {oversize!r}")
    if strategy not in ("class", "ffd"):
        raise ValueError(f"strategy must be class|ffd: {strategy!r}")
    segment_col = order_cols[0]

    n = F.col(length_col).cast("bigint")
    # loud executor-side guard: a null segment would silently sort
    # first in both the window and the oracle's ORDER BY — refuse it
    seg_guarded = F.when(
        F.col(segment_col).isNull(),
        F.raise_error(
            F.lit(
                f"bin_pack_documents: null value in segment column "
                f"{segment_col!r} — order_cols must be a non-null "
                f"unique key"
            )
        ).cast(df.schema[segment_col].dataType),
    ).otherwise(F.col(segment_col))
    d = df.select(
        seg_guarded.alias(segment_col),
        *order_cols[1:],
        *extra_cols,
        n.alias("doc_len"),
    ).where(F.col("doc_len").isNotNull() & (F.col("doc_len") > 0))
    if oversize == "error":
        d = d.withColumn(
            "doc_len",
            F.when(
                F.col("doc_len") > seq_len,
                F.raise_error(
                    F.format_string(
                        "bin_pack_documents: document longer than "
                        f"seq_len={seq_len} (len=%s) — chunk it first "
                        "or pass oversize='drop'",
                        F.col("doc_len").cast("string"),
                    )
                ).cast("bigint"),
            ).otherwise(F.col("doc_len")),
        )
    else:
        d = d.where(F.col("doc_len") <= seq_len)

    if strategy == "ffd":
        return _ffd_pack(d, segment_col, order_cols, seq_len)

    d = d.withColumn(
        "cls", F.floor(F.lit(int(seq_len)) / F.col("doc_len"))
    )

    within = [F.col(c) for c in order_cols[1:]] or [F.lit(1)]
    w = Window.partitionBy("cls", segment_col).orderBy(*within)
    d = d.withColumn("__rn", F.row_number().over(w))

    # per-(class, segment) counts -> exclusive per-class cumsum in
    # segment order, computed DISTRIBUTED on the tiny cells frame
    # (<= classes x segments rows — never a driver collect, so a
    # fine-grained segment column can't blow the driver) -> broadcast
    # offset join back (a literal map would need classes x segments
    # entries; the broadcast join scales)
    cells = d.groupBy("cls", segment_col).agg(F.count("*").alias("__cnt"))
    w_off = (
        Window.partitionBy("cls")
        .orderBy(segment_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = cells.withColumn(
        "__off", F.sum("__cnt").over(w_off) - F.col("__cnt")
    ).select("cls", segment_col, "__off")
    d = d.join(F.broadcast(off), ["cls", segment_col])
    return d.select(
        *order_cols,
        *extra_cols,
        "doc_len",
        "cls",
        F.floor((F.col("__off") + F.col("__rn") - 1) / F.col("cls")).alias(
            "bin_seq"
        ),
    )


def _ffd_pack(
    d: DataFrame,
    segment_col: str,
    order_cols: tuple[str, ...],
    seq_len: int,
) -> DataFrame:
    """Per-segment first-fit-decreasing packing (see
    :func:`bin_pack_documents` ``strategy="ffd"``)."""
    import pandas as pd

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in d.schema.fields
    ) + ", cls bigint, bin_seq bigint"
    tie = list(order_cols[1:])

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["doc_len", *tie], ascending=[False] + [True] * len(tie)
        ).reset_index(drop=True)
        # bins as a parallel pair of arrays (id -> remaining); FFD
        # scans for the FIRST bin with room. A linear scan per doc is
        # O(bins) worst case; keep a running max-remaining to skip the
        # scan when nothing fits (the common new-bin case is O(1)).
        remaining: list[int] = []
        max_rem = -1
        assign = []
        for n_ in pdf["doc_len"].to_numpy():
            n_ = int(n_)
            if n_ <= max_rem:
                for b, r in enumerate(remaining):
                    if r >= n_:
                        remaining[b] = r - n_
                        assign.append(b)
                        break
            else:
                remaining.append(seq_len - n_)
                assign.append(len(remaining) - 1)
            max_rem = max(remaining)
        pdf["cls"] = -1
        pdf["bin_seq"] = pd.Series(assign, dtype="int64")
        return pdf

    return d.repartition(segment_col).groupBy(segment_col).applyInPandas(
        pack, out_schema
    )


def bin_fill_stats(
    assigned: DataFrame,
    seq_len: int,
    segment_col: str | None = None,
) -> DataFrame:
    """Per-bin fill statistics over a :func:`bin_pack_documents`
    result: ``(cls, bin_seq [, segment], n_docs, fill_tokens,
    fill_ratio)`` — one map-side-combined groupBy, no other shuffle.
    ``segment_col`` must be passed for ``strategy="ffd"`` output
    (bin_seq is per-segment there)."""
    keys = ["cls", "bin_seq"] + ([segment_col] if segment_col else [])
    return assigned.groupBy(*keys).agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_len").alias("fill_tokens"),
        (F.sum("doc_len") / F.lit(float(seq_len))).alias("fill_ratio"),
    )


def materialize_bins(
    df: DataFrame,
    tokens_col: str = "tokens",
    order_cols: tuple[str, ...] = ("source", "doc_id"),
    seq_len: int = 2048,
    strategy: str = "class",
    eos: int | None = None,
    pad: int | None = None,
    split_oversize: bool = True,
) -> DataFrame:
    """Turn a token corpus into no-split training windows: the
    end-to-end form of :func:`bin_pack_documents` (which only assigns)
    — returns ``(bin_id string, tokens array, n_tok int, n_docs
    bigint)`` with every window holding whole documents only.

    Documents longer than ``seq_len`` are first split into
    ``seq_len``-sized pieces (``split_oversize=True``, a narrow JVM
    explode — the only place a document may cross windows, as it must)
    or raise loudly (``False``). ``eos`` appends one end-of-document
    marker per document BEFORE length accounting; ``pad`` right-pads
    every window to exactly ``seq_len`` (dataloader-ready fixed
    shapes) — leave ``None`` for variable-length windows.

    Scale shape: the assignment is :func:`bin_pack_documents` (see its
    docstring); materialization is ONE groupBy on the bin key where
    every group is bounded by construction (``<= seq_len`` tokens), so
    the final shuffle is perfectly balanced regardless of input skew.
    """
    if pad is not None and pad < 0:
        raise ValueError("pad must be a valid token id")
    segment_col = order_cols[0]
    toks = F.col(tokens_col)
    if eos is not None:
        elem_ty = df.schema[tokens_col].dataType.elementType.simpleString()
        toks = F.concat(toks, F.array(F.lit(int(eos)).cast(elem_ty)))
    d = df.select(*order_cols, toks.alias("__t")).withColumn(
        "__n", F.size("__t").cast("bigint")
    ).where(F.col("__n") > 0)

    pre = d
    if split_oversize:
        L = F.lit(int(seq_len))
        piece = F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.col("__n") / L).cast("int") - 1,
                ),
                lambda i: F.struct(
                    i.cast("bigint").alias("piece"),
                    F.slice(
                        F.col("__t"), (i * L + 1).cast("int"), seq_len
                    ).alias("t"),
                ),
            )
        )
        d = pre.select(*order_cols, piece.alias("__p")).select(
            *order_cols,
            F.col("__p.piece").alias("__piece"),
            F.col("__p.t").alias("__t"),
        ).withColumn("__n", F.size("__t").cast("bigint"))
        # FFD's lengths-only branch: piece lengths are pure ARITHMETIC
        # on the original count — no array slicing on this lineage, so
        # the double evaluation the join-back costs touches no arrays
        lens = pre.select(
            *order_cols,
            F.col("__n").alias("__n0"),
            F.explode(
                F.sequence(
                    F.lit(0), F.ceil(F.col("__n") / L).cast("int") - 1
                )
            ).alias("__p0"),
        ).select(
            *order_cols,
            F.col("__p0").cast("bigint").alias("__piece"),
            F.least(
                L.cast("bigint"),
                F.col("__n0") - F.col("__p0").cast("bigint")
                * L.cast("bigint"),
            ).alias("__n"),
        )
        inner = tuple(order_cols[1:]) + ("__piece",)
        oversize = "drop"  # nothing oversize survives the split
    else:
        d = d.withColumn("__piece", F.lit(0).cast("bigint"))
        lens = d.select(*order_cols, "__piece", "__n")
        inner = tuple(order_cols[1:]) + ("__piece",)
        oversize = "error"

    if strategy == "class":
        # tokens ride the one (cls, segment)-window exchange — a
        # join-back would cost a second corpus shuffle
        assigned = bin_pack_documents(
            d,
            length_col="__n",
            order_cols=(segment_col, *inner),
            seq_len=seq_len,
            oversize=oversize,
            strategy=strategy,
            extra_cols=("__t",),
        )
    else:
        # FFD's per-segment applyInPandas must see ONLY (keys, len) —
        # shipping every segment's full token corpus into one pandas
        # group is an executor-OOM at scale — so assign on the
        # arithmetic lengths and join the arrays back. The join side
        # pre-aggregates per key, which makes the join 1:1 AND raises
        # loudly on duplicate order keys (the documented unique-key
        # contract; a plain join would fan duplicates out e x e and
        # silently overflow bins — e.g. an epoch-upsampled corpus
        # packed without the epoch column in order_cols).
        toks = d.groupBy(segment_col, *inner).agg(
            F.first("__t").alias("__t"),
            F.count("*").alias("__dup"),
        )
        toks = toks.select(
            segment_col,
            *inner,
            F.when(
                F.col("__dup") > 1,
                F.raise_error(
                    F.lit(
                        "materialize_bins: duplicate order key — "
                        f"order_cols={order_cols!r} must be a unique "
                        "key (epoch-upsampled corpora: include the "
                        "epoch column)"
                    )
                ).cast(d.schema["__t"].dataType),
            )
            .otherwise(F.col("__t"))
            .alias("__t"),
        )
        assigned = bin_pack_documents(
            lens,
            length_col="__n",
            order_cols=(segment_col, *inner),
            seq_len=seq_len,
            oversize=oversize,
            strategy=strategy,
        ).join(toks, [segment_col, *inner])
    # bin key: (cls, bin_seq) for class packing (global), plus the
    # segment for FFD (bin_seq is per-segment there)
    key = ["cls", "bin_seq"] + ([segment_col] if strategy == "ffd" else [])
    bin_id = F.concat_ws(
        "#", *[F.col(k).cast("string") for k in key]
    ).alias("bin_id")
    ordered = F.transform(
        F.sort_array(
            F.collect_list(
                F.struct(*[F.col(c) for c in (segment_col, *inner)], "__t")
            )
        ),
        lambda s: s["__t"],
    )
    out = (
        assigned.groupBy(*key)
        .agg(
            F.flatten(ordered).alias("tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            bin_id,
            "tokens",
            F.size("tokens").alias("n_tok"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
    )
    if pad is not None:
        elem_ty = df.schema[tokens_col].dataType.elementType.simpleString()
        fill = F.array_repeat(
            F.lit(int(pad)).cast(elem_ty),
            (F.lit(int(seq_len)) - F.col("n_tok")).cast("int"),
        )
        out = out.withColumn("tokens", F.concat("tokens", fill))
    return out

"""Corpus-curation operators for training-data pipelines.

The reference pipeline (`etl.py:28-82`) is a curate-then-publish DAG over
immigration records; this module is the same shape specialised for LLM
corpus curation at 100 TB: deterministic splits, per-source quotas,
token-budget packing, and benchmark-contamination checks.

Scale posture shared by every operator here:

- **Determinism over randomness.** ``rand()`` splits are not reproducible
  across retries/backfills and cannot be oracle-checked. All assignment
  here is content/key-hashed (md5), so re-running a failed partition
  yields identical rows — essential for idempotent 100 TB backfills.
- **Shuffle keys, not bodies.** Quota/packing/contamination move
  (id, token_count) or (id, shingle-hash) pairs; document text stays in
  the map stage where it was read.
- **Window-over-groupBy when per-group state is needed.** Quota and
  packing are single-shuffle window computations partitioned by source —
  at 1000 executors that is one exchange on a low-cardinality key; skewed
  sources are handled by AQE skew-split since the window partition key is
  the same as the exchange key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: 16-bit bucket space: md5 prefix → 0..65535. Wide enough that split
#: fractions quantize to ±0.002%, small enough for conv() exactness.
HASH_BUCKETS = 65536


def hash_bucket(key: Column, salt: str, buckets: int = HASH_BUCKETS) -> Column:
    """Deterministic bucket in [0, buckets) from md5(salt ':' key).

    Engine-portable: Spark ``conv(substring(md5(s),1,4),16,10)`` equals
    DuckDB ``('0x' || substring(md5(s),1,4))::BIGINT`` for every input.
    """
    h = F.md5(F.concat_ws(":", F.lit(salt), key.cast("string")))
    return (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % F.lit(buckets)).alias("bucket")


def hash_split(
    df: DataFrame,
    key_col: str,
    salt: str = "split",
    train: float = 0.8,
    valid: float = 0.1,
) -> DataFrame:
    """Assign a deterministic train/valid/test split by hashed key.

    Unlike ``df.randomSplit`` this is stable under retries, repartitions
    and incremental appends (a doc keeps its split forever), which is the
    property a training pipeline actually needs. Pure map work — no
    shuffle, fully codegen'd, and the split predicate pushes down when a
    consumer filters one split.
    """
    b = hash_bucket(F.col(key_col), salt)
    t_hi = int(train * HASH_BUCKETS)
    v_hi = int((train + valid) * HASH_BUCKETS)
    split = (
        F.when(F.col("bucket") < t_hi, F.lit("train"))
        .when(F.col("bucket") < v_hi, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("bucket", b).withColumn("split", split)


def quota_per_group(
    df: DataFrame, group_col: str, order_by: list[Column], n: int
) -> DataFrame:
    """Keep the top-``n`` rows per group under a total order (quota
    sampling / per-source caps).

    One shuffle on ``group_col``; rank prunes inside the window stage, so
    only ``n × |groups|`` rows survive to downstream operators. The
    ordering must include a tiebreaker column to stay deterministic.
    """
    w = Window.partitionBy(group_col).orderBy(*order_by)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n)
    )


def pack_by_token_budget(
    df: DataFrame,
    group_col: str,
    order_col: str,
    tokens_col: str,
    budget: int,
) -> DataFrame:
    """Assign contiguous pack ids so each pack holds ~``budget`` tokens.

    Sequence packing for pre-training: documents are taken in a
    deterministic order within each group and a pack boundary is placed
    every ``budget`` tokens of exclusive running sum (a pack may overrun
    by at most one document — the standard streaming-chunker semantics;
    a strict no-overrun packer needs sequential state, cf.
    :mod:`..streaming`'s applyInPandasWithState).

    The running sum uses :func:`..cumsum.grouped_running_sum` in auto
    shape: the plain window below the estimated-size threshold (small
    inputs pay no extra jobs), the range-exchange shape above it — the
    group key here is per-SOURCE, so at 100× a plain window would sort
    one whole source per task; auto switches before that bites.
    """
    from udacity_dend_capstone_immigration_spark.operators.cumsum import grouped_running_sum

    summed = grouped_running_sum(
        df, group_col, [order_col], tokens_col, out_col="_cum_toks"
    )
    cum_excl = (F.col("_cum_toks") - F.col(tokens_col)).cast("bigint")
    return summed.withColumn("pack_id", F.floor(cum_excl / F.lit(budget))).drop(
        "_cum_toks"
    )


def containment_pairs(
    bench_shingles: DataFrame,
    corpus_shingles: DataFrame,
    min_containment: float,
) -> DataFrame:
    """Benchmark-contamination detection: for (bench_id, shingle) and
    (corpus_id, shingle) inputs, emit pairs whose shingle containment
    |bench ∩ corpus| / |bench| reaches ``min_containment``.

    Containment (not Jaccard) is the right asymmetric measure: a small
    eval item fully embedded in a large training doc scores 1.0 even
    though Jaccard is tiny. Candidates come from the shingle equi-join —
    only docs sharing ≥1 shingle ever pair, and only hashes shuffle.
    Returns (bench_id, corpus_id, shared, bench_size, containment).
    """
    b = bench_shingles.select(
        F.col("doc_id").alias("bench_id"), F.col("shingle")
    )
    c = corpus_shingles.select(
        F.col("doc_id").alias("corpus_id"), F.col("shingle")
    )
    # merge hints: both shingle sides and the per-bench-doc sizes are
    # SF-scaling with explode-blind size estimates — unhinted, the
    # static planner broadcasts a side at any corpus size (measured
    # 1.2 GiB broadcast build in the dedup tier at a 100x corpus)
    shared = (
        b.join(c.hint("merge"), "shingle")
        .groupBy("bench_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sizes = bench_shingles.groupBy(F.col("doc_id").alias("bench_id")).agg(
        F.count(F.lit(1)).alias("bench_size")
    )
    cont = F.col("shared").cast("double") / F.col("bench_size")
    return (
        shared.join(sizes.hint("merge"), "bench_id")
        .select("bench_id", "corpus_id", "shared", "bench_size", cont.alias("containment"))
        .where(F.col("containment") >= min_containment)
    )


def weighted_priority_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Weighted sampling without replacement via *priority sampling*
    (Duffield–Lund–Thorup / Ohlsson sequential Poisson): each row gets
    priority ``u / w`` with ``u`` a deterministic md5-uniform in (0, 1]
    and ``w`` its weight; the ``k`` smallest priorities per group are the
    sample. Inclusion probability is ∝ weight, and the md5-derived ``u``
    makes the draw reproducible across retries and engines (no
    ``rand()``), so backfills keep the identical sample.

    Weights must be strictly positive: ``u/0`` is Infinity (the row would
    silently never be sampled) and a negative weight inverts the priority
    order (the row would always win), so any non-positive weight raises
    at execution time rather than skewing the draw. The helper columns
    ``priority`` and ``rn`` ride along in the output so callers (and the
    oracle) can audit the draw; drop them if you only need the rows.

    Everything before the single ``group_col`` shuffle is map work; only
    (group, key, weight, priority) flow through the window. The uniform
    is ``(h + 1) / 2^32`` with ``h`` the first 8 md5 hex digits — a
    power-of-two division, so the double value is exact and the DuckDB
    oracle reproduces priorities bit-for-bit.
    """
    key = F.col(key_col)
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(salt), key.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    u = (h + F.lit(1)) / F.lit(4294967296.0)
    w_checked = F.when(F.col(weight_col) > 0, F.col(weight_col)).otherwise(
        F.raise_error(
            F.concat(
                F.lit("weighted_priority_sample requires weight > 0, got "),
                F.col(weight_col).cast("string"),
            )
        )
    )
    prio = u / w_checked
    w = Window.partitionBy(group_col).orderBy("priority", key_col)
    return (
        df.withColumn("priority", prio)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def hash_kfold(
    df: DataFrame, key_col: str, folds: int = 5, salt: str = "kfold"
) -> DataFrame:
    """Deterministic k-fold assignment by hashed key (r14 staging —
    registration deferred, window full): ``fold`` ∈ [0, folds) via the
    same md5-bucket discipline as :func:`hash_split`, so folds are
    stable under retries/appends and every (train=folds−1, eval=1)
    rotation is reproducible — the cross-validation twin of the
    train/test split. Pure map work, no shuffle; combine with the
    cluster-representative key (corpus_split_cluster_safe) when
    near-dup leakage across folds matters."""
    b = hash_bucket(F.col(key_col), salt)
    return (
        df.withColumn("bucket", b)
        .withColumn("fold", (F.col("bucket") % folds).cast("int"))
        .drop("bucket")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping token-window CHUNKS — the retrieval-prep operator
    (RAG corpora chunk before embedding/indexing; size/stride in the
    whitespace tokens of the canonical normalized text). Chunk k covers
    tokens [k*stride, k*stride + size); the chunk count is
    ceil((n_tokens - size)/stride) + 1 (1 when the doc fits one
    window), so every token is covered, the final window may run short,
    and no fully-redundant tail window is emitted. Empty docs yield no
    chunk.

    Executes like `dedup.shingle_rows`: `sequence`/`slice`/`concat_ws`
    are collection expressions (not lambda HOFs), so the whole build
    stays in whole-stage codegen, and the only row growth is the
    bounded ~n_tokens/stride explode — map-only, ZERO shuffle at any
    corpus size. The ceil-div is exact-integer bucketing
    (num − num % span, the CLAUDE.md `/`-is-double rule); the emitted
    rows carry offsets, counts, and the chunk md5 — never chunk bodies
    — so downstream shuffles (dedup, stats) stay fingerprint-sized.
    Returns (id, chunk_idx, start_tok, n_tokens, chunk_hash).
    """
    from udacity_dend_capstone_immigration_spark.functions.text import tokenize

    d = df.select(F.col(id_col), tokenize(text_col).alias("_t")).where(
        F.size("_t") > 0
    )
    nt = F.size("_t")
    over = nt - F.lit(size) + F.lit(stride - 1)
    extra = ((over - over % F.lit(stride)) / F.lit(stride)).cast("int")
    n_chunks = F.when(nt <= size, F.lit(1)).otherwise(extra + F.lit(1))
    ex = d.select(
        F.col(id_col),
        F.col("_t"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    win = F.slice("_t", F.col("chunk_idx") * stride + 1, size)
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx"),
        (F.col("chunk_idx") * stride).cast("int").alias("start_tok"),
        F.size(win).cast("int").alias("n_tokens"),
        F.md5(F.concat_ws(" ", win)).alias("chunk_hash"),
    )

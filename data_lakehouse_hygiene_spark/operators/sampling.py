"""Deterministic sampling + sketching for training-data pipelines.

``df.sample()`` is seed-dependent per partition layout — resampling after a
repartition changes membership, which poisons reproducibility of a training
mix. These operators derive membership from a HASH of a stable key instead:
the same row is in or out regardless of partitioning, executor count, or
retries, and the DuckDB oracle reproduces the exact row set.

Scale notes:
- hash-threshold sampling is a pure per-row filter — pushes to the scan's
  post-filter, no shuffle, trivially parallel;
- fixed-size sampling is a global top-k by hash — one shuffle of the
  candidate hashes (sort-limit), independent of data order;
- the KMV (k-minimum-values) sketch estimates distinct counts from the
  k smallest hashes — one aggregate pass, mergeable across partitions,
  and (unlike HLL implementations) bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .aggregates import quantize
from .cleaning import _estimated_bytes
from .dedup import base_hash
from .ordering import _range_prefix

# 60-bit hash space (15 hex chars of md5, see dedup.base_hash).
HASH_SPACE = float(2**60)


def hash_sample(df: DataFrame, key: str, rate_pct: int) -> DataFrame:
    """Keep rows whose key-hash falls in the lowest ``rate_pct`` percent of
    hash space — a deterministic, partition-independent Bernoulli sample."""
    return df.where(base_hash(F.col(key).cast("string")) % 100 < rate_pct)


def stratified_hash_sample(
    df: DataFrame, key: str, stratum: str, rates_pct: dict[str, int], default_pct: int = 0
) -> DataFrame:
    """Per-stratum deterministic sampling — the 'mixture weights' operator
    of a training-data pipeline (e.g. 50% of src A, 10% of src B)."""
    rate = F.lit(default_pct)
    for s, p in sorted(rates_pct.items()):
        rate = F.when(F.col(stratum) == s, F.lit(p)).otherwise(rate)
    return df.where(base_hash(F.col(key).cast("string")) % 100 < rate)


def hash_split(
    df: DataFrame, key: str, splits: list[tuple[str, int]]
) -> DataFrame:
    """Deterministic multi-way split (train/valid/test) by key hash.

    ``splits`` is a list of (label, pct) whose percentages sum to 100;
    a row's split is the first label whose cumulative percentage exceeds
    its hash bucket. Pure projection (no shuffle, no RNG): the assignment
    is a function of the key alone, so it is stable under repartitioning,
    retries, and incremental reruns — the property that matters when the
    split must never leak rows across sets between pipeline runs.
    """
    total = sum(p for _, p in splits)
    if total != 100:
        raise ValueError(f"split percentages must sum to 100, got {total}")
    h = base_hash(F.col(key).cast("string")) % 100
    expr = F.lit(splits[-1][0])
    acc = 0
    ladder: list[tuple[str, int]] = []
    for label, p in splits[:-1]:
        acc += p
        ladder.append((label, acc))
    for label, bound in reversed(ladder):
        expr = F.when(h < bound, F.lit(label)).otherwise(expr)
    return df.withColumn("split", expr)


def fixed_size_sample(df: DataFrame, key: str, n: int) -> DataFrame:
    """Exactly-n deterministic sample: the n rows with the smallest key
    hashes (global sort-limit on the hash, ties impossible for distinct
    keys; stable under any partitioning)."""
    h = base_hash(F.col(key).cast("string")).alias("__h")
    return (
        df.select("*", h)
        .orderBy("__h")
        .limit(n)
        .drop("__h")
    )


def mixture_weights(
    df: DataFrame, *group_cols: str, alpha: float = 0.5
) -> DataFrame:
    """Temperature-based resampling weights for a training mixture
    (the multilingual/multi-source rebalancing rule: sample group g with
    probability ∝ (n_g)^alpha — alpha < 1 upsamples the tail, alpha = 1 is
    natural frequency). Returns per-group counts and the normalized weight.

    Since (n_g/N)^alpha normalized is (n_g)^alpha / Σ(n_g)^alpha, the total
    N cancels and alpha = 0.5 is a plain ``sqrt`` — which (unlike pow/log)
    is IEEE correctly-rounded and therefore bit-identical across engines.
    The normalizing sum runs over DECIMAL(38,18) casts of the per-group
    sqrt so it is exact and order-independent (a double sum's value depends
    on partial-aggregation merge order); the final ratio is computed in
    double and floor-quantized. One hash aggregate over the groups + one
    broadcast of the 1-row total: two tiny shuffles regardless of scale.
    The per-group count table is materialized once (``localCheckpoint`` —
    a handful of rows): it feeds both the normalizing sum and the output
    projection, and the diverging prunings of those two consumers
    otherwise make Catalyst re-scan and re-aggregate the corpus twice.
    """
    if alpha != 0.5:
        raise ValueError(
            "only alpha=0.5 (sqrt) is cross-engine bit-stable"
        )
    counts = (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    s = F.sqrt(F.col("n").cast("double")).cast("decimal(38,18)")
    withs = counts.withColumn("__s", s)
    tot = withs.agg(F.sum("__s").alias("__tot"))
    return (
        withs.crossJoin(F.broadcast(tot))
        .select(
            *group_cols,
            "n",
            quantize(
                F.col("__s").cast("double") / F.col("__tot").cast("double"), 6
            ).alias("weight"),
        )
    )


def kmv_distinct_estimate(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """K-minimum-values distinct-count sketch: with U = k-th smallest of
    the distinct key hashes normalized to (0,1], estimate D ≈ (k-1)/U.

    One aggregate pass; mergeable (union of sketches = sketch of union).
    All arithmetic is integer + one division, so Spark and DuckDB agree
    bit-for-bit — which HLL sketches never do across implementations.
    Returns (n_exact_if_small, kth_hash, estimate) — when fewer than k
    distinct values exist the sketch IS the exact count.
    """
    h = base_hash(F.col(col).cast("string")).alias("__h")
    mins = (
        df.select(h)
        .distinct()
        .orderBy("__h")
        .limit(k)
    )
    return mins.agg(
        F.count(F.lit(1)).alias("n_mins"),
        F.max("__h").alias("kth_hash"),
    ).select(
        "n_mins",
        "kth_hash",
        F.when(
            F.col("n_mins") < k, F.col("n_mins").cast("double")
        )
        .otherwise(
            (F.lit(float(k - 1)))
            / (F.col("kth_hash").cast("double") / F.lit(HASH_SPACE))
        )
        .alias("distinct_estimate"),
    )


def quality_weighted_sample(
    df: DataFrame,
    key: str,
    quality: Column | str,
    resolution: int = 1_000_000,
) -> DataFrame:
    """Deterministic quality-PROPORTIONAL Bernoulli sampling: a row with
    quality score q ∈ [0,1] survives with probability q — the importance
    resampling step (DSIR-style) that upweights high-quality documents
    without an RNG. The coin is the portable 60-bit key hash reduced to a
    ``resolution``-sided die, so the decision is a pure function of the
    key: stable under repartitioning, retries, and engine (the oracle
    flips the identical coin in SQL).

    Scale: pure projection + filter, no shuffle; survives at scan speed.
    """
    q = F.col(quality) if isinstance(quality, str) else quality
    u = base_hash(F.col(key).cast("string")) % resolution
    return df.where(
        u.cast("double") < q.cast("double") * F.lit(float(resolution))
    )


def mixture_resample(
    df: DataFrame,
    *group_cols: str,
    alpha: float = 0.5,
    key: str = "doc_id",
    resolution: int = 1_000_000,
) -> DataFrame:
    """Apply the temperature mixture as an actual deterministic
    DOWNSAMPLE: keep rows so the surviving group shares match the
    ``mixture_weights`` targets exactly in expectation, at the largest
    size that needs no upsampling — per-group keep rate
    r_g = w_g · M / n_g with M = min_g(n_g / w_g) (the binding group
    keeps everything, r = 1). The coin is the portable 60-bit key hash
    (``quality_weighted_sample``'s convention): the decision is a pure
    function of the key — stable under repartitioning, retries, and
    engine, no RNG.

    Scale shape: the rate table is group-grain (tiny) and broadcasts
    onto the corpus for one projection+filter — the expensive side runs
    at scan speed; the min is a 1-row aggregate over the group table.
    Returns the kept rows as (key, *group_cols).
    """
    w = mixture_weights(df, *group_cols, alpha=alpha)
    m = w.select(
        (F.col("n").cast("double") / F.col("weight")).alias("__m")
    ).agg(F.min("__m").alias("__M"))
    rates = w.crossJoin(F.broadcast(m)).select(
        *group_cols,
        (
            F.col("weight") * F.col("__M") / F.col("n").cast("double")
        ).alias("__r"),
    )
    u = base_hash(F.col(key).cast("string")) % resolution
    return (
        df.join(F.broadcast(rates), list(group_cols))
        .where(u.cast("double") < F.col("__r") * F.lit(float(resolution)))
        .select(key, *group_cols)
    )


# One rank bucket per ~this many estimated input bytes (capped at the
# requested n_parts): below one bucket's worth the percentile probe and
# the offsets branch are pure fixed latency — a single partitioned-window
# task sorts the whole (small) input and the plan is scan → one window.
GR_BYTES_PER_BUCKET = 8 << 20


def global_rank(
    df: DataFrame,
    order: list[Column],
    n_parts: int = 32,
    bucket_on: tuple[str, bool] | None = None,
) -> DataFrame:
    """Distributed dense global 1-based rank by ``order`` (must be a
    TOTAL order — include a unique tiebreak column) — the scale-safe
    replacement for ``row_number() OVER (ORDER BY ...)``'s single-task
    global window. ``bucket_on=(col_name, ascending)`` names the FIRST
    sort column (must be percentile-able: numeric/temporal) and its
    direction.

    The rank VALUES are a pure function of the data (the total order
    fixes them), so the result is identical under any bucket layout;
    only the work distribution depends on the bucket count. Mechanics:
    ``ordering._range_prefix`` with the per-bucket ``row_number`` and
    counts (percentile cuts as plan literals, NULLs in a sentinel
    bucket, start offsets computed in the plan).

    Round 14 — REPLACES the ``repartitionByRange`` +
    ``spark_partition_id()`` + offsets-``collect()`` construction,
    which was WRONG at scale: range-partition boundaries are sampled
    per ACTION (the sampler's seed incorporates the RDD id), so the
    counts job and the ranking job could place rows into different
    partitions — at 500k synthetic rows 483k of 500k ranks were off
    (test-pinned vs the single-window truth; invisible at oracle scale,
    where the boundary sample is effectively exact). Percentile cuts
    are plan literals, so every consumer of ``__bkt`` computes the SAME
    bucket for a row in every branch and every retry. The rewrite also
    shuffles the data ONCE instead of twice (the old shape paid the
    range exchange AND the window's hash exchange on the opaque
    partition id) and runs no driver collect over data-sized frames.

    The bucket count is data-proportional (est bytes /
    ``GR_BYTES_PER_BUCKET``, capped at ``n_parts``, floor 1): small
    inputs skip the percentile probe job entirely and rank in one
    window task; unknown-stats inputs defensively use all ``n_parts``
    buckets (the probe is one cheap pass; a single-task sort of an
    actually-huge input would not be).
    """
    if bucket_on is None:
        raise ValueError(
            "global_rank requires bucket_on=(first_order_col, ascending): "
            "the first sort column's name and direction drive the "
            "percentile range-bucketing"
        )
    est = _estimated_bytes(df)
    if est <= 0:
        n_buckets = n_parts  # stats unknown: assume big, keep parallel
    else:
        n_buckets = min(n_parts, int(est // GR_BYTES_PER_BUCKET) + 1)
    return _range_prefix(
        df,
        order,
        bucket_on,
        lambda w: F.row_number().over(w),
        F.count(F.lit(1)),
        "rank",
        n_buckets,
    )


def shard_assign(
    df: DataFrame,
    n_shards: int,
    size_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Size-balanced output sharding: assign every document to one of
    ``n_shards`` shards so per-shard total size stays near-equal — the
    layout step before a training run writes its N input files, where
    unbalanced shards become stragglers for every epoch that follows.

    Assignment = sorted round-robin: rank all docs by (size DESC, id)
    and take rank-1 mod n_shards. Round-robin over the size-sorted
    order is the classic streaming bin-packing heuristic — consecutive
    docs (nearest in size) land in different shards, so shard totals
    differ by at most the largest single document across any window of
    n_shards ranks; on realistic size distributions the imbalance is
    per-mille (test-pinned ≤ 5% on the fixture). Deterministic, no RNG:
    the assignment is a pure function of (size, id).

    Scale shape: one ``global_rank`` (percentile range buckets, a
    partitioned window, in-plan bucket offsets) and a projection — no
    global single-task window over the data. Returns
    (id, size, rank, shard).
    """
    ranked = global_rank(
        df.select(id_col, size_col),
        [F.col(size_col).desc(), F.col(id_col).asc()],
        bucket_on=(size_col, False),
    )
    return ranked.select(
        id_col,
        size_col,
        "rank",
        ((F.col("rank") - 1) % F.lit(n_shards)).cast("int").alias("shard"),
    )

"""Embedding similarity search: brute-force cosine top-k (baseline) and a
random-hyperplane LSH-bucketed variant (the scale path), plus cosine
near-duplicate pairs.

Determinism / oracle parity: float32 components are cast to double (exact),
each pairwise product is floor-quantized to 12 decimals and summed as an
integer DECIMAL — an order-independent exact sum, so Spark and DuckDB agree
bit-for-bit regardless of aggregation order. sqrt/division are IEEE
correctly-rounded, hence identical. Final cosines are quantized to 6
decimals before any threshold/rank comparison. Each step of that
arithmetic is written once per engine side: ``dot_exact`` / ``norms`` /
``_cosine`` as columns, ``_qdot`` / ``_norm`` / ``_cosq`` in NumPy for the
Arrow kernels. A vector whose quantized norm is 0 has no cosine, so it is
in no pair and no candidate set (``_cosine``, ``_norm``).

Scale design (1e9+ vectors):
- Brute force is O(n·q) — fine for a broadcast-able query set (q ≤ ~1e4),
  the fact side streams through one scan, top-k via per-partition partial
  rank (window) after a shuffle on query_id.
- LSH: 8 deterministic hyperplanes → 256 buckets; candidates meet via a
  bucket equi-join; recall/latency tuned by planes and multi-probe.
- IVF: ``ivf_ann`` and ``ivfpq_ann`` replace the hyperplanes with a
  coarse cluster column (``kmeans_fit_assign`` is the in-repo trainer)
  — same join shape.
"""

from __future__ import annotations

from functools import lru_cache as _lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .aggregates import quantize
from .cleaning import _estimated_bytes, spread

DOT_SCALE = int(1e12)
N_PLANES = 8


def _qprod(x: Column, y: Column) -> Column:
    """floor-quantized product of two float components, as integer units of
    1e-12 — exact and order-independent under integer summation. BIGINT
    accumulation (JVM long adds, not BigDecimal): with unit-normalized
    embeddings (|x| ≤ 1) and dim ≤ 4096 the sum is bounded by 4e15 ≪ 2^63;
    hyperplane projections (components ≤ 7.5) stay under 3e16. The oracle
    sums the same integers as HUGEINT — identical values either way."""
    return F.floor(
        x.cast("double") * y.cast("double") * F.lit(float(DOT_SCALE)) + F.lit(0.5)
    ).cast("bigint")


def dot_exact(a: Column, b: Column) -> Column:
    """Order-independent dot product of two array<float> columns (double)."""
    acc = F.aggregate(
        F.zip_with(a, b, _qprod),
        F.lit(0).cast("bigint"),
        lambda s, v: s + v,
    )
    return acc.cast("double") / F.lit(float(DOT_SCALE))


def norms(df: DataFrame, vec_col: str = "embedding", *carry: str) -> DataFrame:
    """(vec_id, vec_col, norm, *carry): the per-vector L2 norm, computed
    once and joined — never recomputed per pair."""
    v = F.col(vec_col)
    return df.select(
        "vec_id",
        v.alias(vec_col),
        F.sqrt(dot_exact(v, v)).alias("norm"),
        *carry,
    )


def _cosine(va: Column, vb: Column, na: Column, nb: Column) -> Column:
    """The family's exact cosine column: ``dot_exact`` over the norm
    product, quantized to 6 decimals.

    The zero-norm rule: a vector whose quantized norm is 0 (every
    |component| below ~7e-7) — or NULL, the Arrow form of ``_norm``'s NaN
    — has no cosine. The guard makes it NULL, which no threshold passes
    and ``_keyed_cosine_topk`` drops. The rule sits on the denominator,
    not as a ``norm > 0`` filter: Catalyst pushes a filter on the aliased
    norm below the Project that computes it, evaluating the self-dot
    twice."""
    den = na * nb
    return quantize(dot_exact(va, vb) / F.when(den > 0, den), 6)


def _probes(bucket: Column, n_planes: int) -> Column:
    """The bucket and its n_planes Hamming-1 neighbours (one flipped
    hyperplane bit each) — the multi-probe set."""
    return F.array(
        bucket, *[bucket.bitwiseXOR(F.lit(2**p)) for p in range(n_planes)]
    )


def _rows(col, dtype: str = "float64"):
    """A batch's vectors (an Arrow array column, or any sequence of
    them) as an (n, dim) matrix."""
    import numpy as np

    return np.stack([np.asarray(v, dtype=dtype) for v in col])


def _qdot(x, y):
    """``dot_exact``'s integer sum in NumPy: Σ floor(x·y·1e12 + 0.5) over
    the last axis as int64. Each product is the same elementwise IEEE
    double op as ``_qprod`` and the int64 sum is order-free, so self-dots,
    pair dots and plane projections equal the column algebra bit for
    bit."""
    import numpy as np

    units = np.floor(x * y * float(DOT_SCALE) + 0.5)
    return units.astype(np.int64).sum(axis=-1)


def _norm(v):
    """Row norms with ``norms()``' bits: sqrt(self-dot / 1e12). A zero
    quantized self-dot gives NaN — the zero-norm rule of ``_cosine``:
    every ``_cosq`` it enters is NaN and fails every comparison, and
    Arrow hands it to Spark as a NULL norm."""
    import numpy as np

    q = _qdot(v, v)
    return np.where(q > 0, np.sqrt(q / float(DOT_SCALE)), np.nan)


def _cosq(dot, na, nb):
    """``_cosine`` in NumPy, the same double ops in the same order:
    floor((dot / 1e12) / (na·nb) · 1e6 + 0.5) / 1e6. NaN when a norm is
    NaN."""
    import numpy as np

    return np.floor((dot / float(DOT_SCALE)) / (na * nb) * 1e6 + 0.5) / 1e6


_PAIRS = "vec_a long, vec_b long, cosine double"


def _empty(schema: str):
    """The typed empty pandas frame of a kernel's output ``schema``
    (integer and double columns)."""
    import pandas as pd

    return pd.DataFrame(
        {
            name: pd.Series(dtype="float64" if t == "double" else "int64")
            for name, t in (f.split() for f in schema.split(","))
        }
    )


def _pair_frame(a, b, cos):
    """Scored pairs as (vec_a < vec_b, cosine) rows."""
    import numpy as np
    import pandas as pd

    return pd.DataFrame(
        {"vec_a": np.minimum(a, b), "vec_b": np.maximum(a, b), "cosine": cos}
    )


def _present(df: DataFrame, vec_col: str) -> DataFrame:
    """The retrieval family's NULL rule: a row whose vector is NULL is
    absent — neither a corpus row nor a query."""
    return df.where(F.col(vec_col).isNotNull())


def _topk(
    scored: DataFrame, score: str, k: int, desc: bool = True
) -> DataFrame:
    """The one per-query top-k tail: rank each query's candidates by
    ``score`` (descending for cosines, ascending for distances), ties
    to the lowest vec_id, and keep ranks 1..k — a k-bounded window
    partitioned by query."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc(score) if desc else F.asc(score), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", score, "rank")
    )


def _keyed_cosine_topk(
    corpus: DataFrame, queries: DataFrame, key: str, vec_col: str, k: int
) -> DataFrame:
    """Exact-cosine top-k over keyed candidates (``ivf_ann``'s cell,
    ``lsh_ann``'s probed bucket): the corpus (vec_id, vec_col, norm,
    key) meets the broadcast queries (query_id, qv, qnorm, key) in one
    equi-join on the key, self-matches excluded, cosine quantized to 6
    decimals, then ``_topk``. A NULL cosine (zero norm) ranks last, so
    dropping it after the window leaves every other rank as it was —
    and a filter there is not pushed below the Project that computes
    the dot."""
    scored = (
        corpus.join(F.broadcast(queries), on=key)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _cosine(
                F.col("qv"), F.col(vec_col), F.col("qnorm"), F.col("norm")
            ).alias("cosine"),
        )
    )
    return _topk(scored, "cosine", k).where(F.col("cosine").isNotNull())


N_BLOCKS = 16

# Self-sizing targets for the cluster-blocked exact path (round 9): the
# block count grows with the corpus (the resolve_planes occupancy rule)
# and any cluster that still exceeds the per-block row target is
# hash-split into sub-blocks, so per-task pair work stays bounded no
# matter how the corpus clusters. A ~8k-row block is ~8k²/2·dim ≈ 2e9
# flops of GEMM per self pair — a sub-second task.
BLOCK_TARGET_ROWS = 8192
KMEANS_MAX_BLOCKS = 256  # fit cost is sample·k·dim; beyond this the
# sample (8192 rows) cannot resolve more clusters anyway
SPLIT_MAX_BLOCKS = 1024  # expanded-block ceiling: bounds the pid-map
# plan literals and the driver-side parent-pair pruning loop

# Exact-path input ceiling: ~4 GiB of vector data ≈ 1e7 64-d float32
# vectors ≈ 5e13 pair dot products — already multi-hour work on a large
# cluster; anything bigger must use the sub-quadratic paths.
COSINE_PAIRS_MAX_BYTES = 4 << 30

# Exact-path PLANNED-SHUFFLE ceiling (round 12): the input-bytes gate
# above missed a real failure — 2M rotated 64-d vectors (~500 MB
# parquet, well under 4 GiB) planned ~490M replicated cogroup rows
# (~140 GB) because random-direction clusters have near-π radii and the
# triangle-inequality pruner kept ~all of the ~30k block pairs; the
# shuffle spill filled the local disk mid-stage (SCALING.md round-12
# reading). The cost driver is Σ_{(i,j) kept} (m_i + m_j) · row bytes —
# fully known on the driver BEFORE launch (block member counts from the
# radius agg + the surviving pair list) — so the gate now refuses on the
# PLANNED volume, the quantity that actually kills the job, not a proxy.
# 64 GiB ≈ a single fat node's comfortable spill budget; raise it
# explicitly after sizing real cluster shuffle capacity.
COSINE_SHUFFLE_MAX_BYTES = 64 << 30

# Below this estimated input size the k-means fit/radius jobs cost more
# than the whole compare — hash-block instead (see cosine_pairs docstring).
COSINE_SMALL_BYTES = 64 << 20

# Conservatism pads for the block pruner / kernel screen. Both stages only
# PRE-FILTER; every emitted pair is re-derived with the exact quantized
# arithmetic, so the pads trade a little pruning power for a safety margin
# ~1e5× larger than the worst-case float/quantization error.
_EPS_ANG = 1e-4  # radians, added to radii / subtracted from separations
_SCREEN_MARGIN = 1e-4  # absolute cosine slack for the float-GEMM screen

_KMEANS_FIT_SAMPLE = 8192  # blocking-quality fit needs a sample, not a scan


def _quant_rotation(na2: float, dim: int) -> float:
    """Conservative bound (radians) on the angle between a float vector
    and its KMEANS_SCALE-quantized image, given the quantized squared
    norm ``na2`` (integer units): per-component offset ≤ 0.5 units, so
    sin(rot) ≤ 0.5·sqrt(d) / (|q| − 0.5·sqrt(d)). ~4e-6 rad for
    unit-norm 64-d embeddings; approaches π as the quantized norm nears
    the offset itself (direction genuinely unknown at this precision)."""
    import math

    off = 0.5 * math.sqrt(dim)
    denom = math.sqrt(max(na2, 0.0)) - off
    if denom <= 0.0:
        return math.pi
    return math.asin(min(1.0, off / denom))


def _prune_block_pairs(
    cents: list[list[int]],
    min_cos: list[float],
    threshold: float,
    rot: list[float] | None = None,
) -> list[tuple[int, int]]:
    """Angular triangle-inequality block-pair pruning: every member of
    cluster i lies within angle θ_i = acos(min_cos[i]) of centroid c_i, so
    for a ∈ i, b ∈ j the pair angle is ≥ φ_ij − θ_i − θ_j (φ_ij = centroid
    angle) and the pair cosine is ≤ cos(max(0, φ_ij − θ_i − θ_j)). A block
    pair whose upper bound clears below the threshold cannot contain a
    qualifying pair and never launches. Driver-side O(k²·d) floats over the
    collected integer centroids; each term gets an ``_EPS_ANG`` pad for
    float rounding, and ``rot[i]`` (``_quant_rotation`` of the cluster's
    smallest quantized norm) widens θ_i so the FLOAT vectors the kernel
    compares stay covered even when quantization rotates a tiny-norm
    member arbitrarily — a fixed pad cannot (review-found: at norm ~1e-6
    the rotation bound is ~radians, not the ~4e-6 of unit vectors).

    On angularly spread-out corpora (near-uniform embeddings: radii ≈ 90°)
    nothing prunes and the full P(P+1)/2 grid runs — correct, just not
    cheaper; clustered corpora (the realistic near-dup regime) drop the
    bulk of cross-cluster block pairs before any executor sees them."""
    import math

    p = len(cents)
    theta = [
        math.acos(max(-1.0, min(1.0, mc)))
        + _EPS_ANG
        + (rot[i] if rot is not None else 0.0)
        for i, mc in enumerate(min_cos)
    ]
    nrm = [math.sqrt(float(sum(x * x for x in c))) for c in cents]
    tcos = threshold - _SCREEN_MARGIN
    kept: list[tuple[int, int]] = []
    for i in range(p):
        for j in range(i, p):
            if i == j or nrm[i] == 0.0 or nrm[j] == 0.0:
                kept.append((i, j))
                continue
            cc = float(sum(a * b for a, b in zip(cents[i], cents[j])))
            cc = max(-1.0, min(1.0, cc / (nrm[i] * nrm[j])))
            gap = (math.acos(cc) - _EPS_ANG) - theta[i] - theta[j]
            if gap <= 0.0 or math.cos(gap) >= tcos:
                kept.append((i, j))
    return kept


def _nearest(X, C):
    """The family's one nearest-centroid kernel: for each row of the int64
    matrix ``X``, the index of the nearest row of the int64 centroid
    matrix ``C`` (FIRST minimum, so ties go to the lowest centroid index)
    and its exact squared distance.

    Distances use the ||a||² + ||c||² − 2a·c expansion as one int64
    matmul per 2048-row chip, so the temp is O(chip·k), not the
    O(chip·k·dim) broadcast of the (x−y)² form. Every term is an integer
    and int64 arithmetic is a ring (mod 2^64), so each distance equals
    the Σ(x−y)² of the difference form bit for bit — and so do the
    argmin and everything the Lloyd updates derive from it. Components
    are ≤ KMEANS_SCALE in unit-norm use, so the terms stay ≤
    dim·KMEANS_SCALE² ≈ 6.4e13 ≪ 2^63."""
    import numpy as np

    cn = (C * C).sum(axis=1)
    idx = np.empty(len(X), dtype=np.int32)
    dist = np.empty(len(X), dtype=np.int64)
    for c0 in range(0, len(X), 2048):
        Xc = X[c0 : c0 + 2048]
        d = (Xc * Xc).sum(axis=1)[:, None] + cn[None, :] - 2 * (Xc @ C.T)
        i = d.argmin(axis=1)
        idx[c0 : c0 + 2048] = i
        dist[c0 : c0 + 2048] = d[np.arange(len(d)), i]
    return idx, dist


def _kmeans_fit_local(sx, k: int, n_iter: int):
    """Driver-local exact-integer Lloyd over the collected sample matrix
    ``sx`` (int64, rows already vec_id-ascending so the id-ordered init
    matches the engine's convention): init = first k rows, ``_nearest``
    assignment (ties to the lowest cluster), floor(sum/count) update,
    emptied clusters keep their centroid. All arithmetic is int64
    (deterministic across platforms); returns a (k', dim) int64 array
    with k' = min(k, rows)."""
    import numpy as np

    k = min(k, len(sx))
    cents = sx[:k].copy()
    for _ in range(n_iter):
        cl, _ = _nearest(sx, cents)
        for ci in range(k):
            m = sx[cl == ci]
            if len(m):
                cents[ci] = np.floor_divide(m.sum(axis=0), len(m))
    return cents


def _np_assign(base: DataFrame, cents_arr) -> DataFrame:
    """Scan-shaped Arrow assignment pass: per row, the ``_nearest``
    centroid plus the member-centroid cosine ``cm`` for the radius
    aggregate. The centroid matrix ships inside the serialized function
    (ship-the-model). numpy int64 replaces the interpreted zip_with
    expression tree (CodegenFallback) — measured ~10× on this pass at
    sf0.1."""
    import numpy as np
    import pandas as pd

    C = cents_arr
    nc2_all = (C * C).sum(axis=1)

    def gen(it):
        for pdf in it:
            Q = _kquant(_rows(pdf["v"]))
            na2 = (Q * Q).sum(axis=1)
            cl, dmin = _nearest(Q, C)
            nc2 = nc2_all[cl]
            with np.errstate(divide="ignore", invalid="ignore"):
                cm = np.where(
                    (na2 > 0) & (nc2 > 0),
                    (na2 + nc2 - dmin).astype(np.float64)
                    / (
                        2.0
                        * np.sqrt(na2.astype(np.float64))
                        * np.sqrt(nc2.astype(np.float64))
                    ),
                    -1.0,
                )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "v": pdf["v"],
                    "cluster": cl,
                    "cm": cm,
                    "na2": na2,
                }
            )

    return base.mapInPandas(
        gen, "vec_id long, v array<float>, cluster int, cm double, na2 long"
    )


def cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    threshold: float = 0.45,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (a<b) above a threshold:
    k-means cluster blocking with triangle-inequality block-pair pruning +
    an Arrow-vectorized GEMM-screened block kernel. EXACT: every stage
    before the final filter is a provably-safe over-approximation, and
    every emitted cosine is the engine's quantized arithmetic bit-for-bit
    (asserted equal to the pure-Catalyst witness in tests). A vector whose
    quantized norm is 0 has no cosine and is in no pair.

    Size-gated plan shape (the ngram_jaccard precedent): the k-means fit +
    radius pass cost ~3 fixed driver-coordinated jobs, pure overhead when
    the whole corpus fits a handful of kernel tasks — inputs estimated
    under ``COSINE_SMALL_BYTES`` (64 MiB ≈ 250k vectors) skip them and
    hash-block on ``pmod(vec_id, N_BLOCKS)`` (one job end-to-end, no
    pruning); larger inputs — where pruning can remove real work and
    fixed jobs are noise — take the cluster-blocked pruned path. Both
    paths share the replication scheme and kernel, and the result set is
    blocking-invariant, so the gate changes plan shape only.

    Why not LSH blocking: at threshold 0.45 the pair angle is ~63°, so each
    random hyperplane splits a qualifying pair with p ≈ 0.35 and banded-LSH
    recall needs L ≫ 100 tables to approach 1 — no sub-quadratic EXACT
    algorithm exists for dense vectors at moderate thresholds. The design
    therefore (1) prunes what geometry allows, (2) distributes what
    remains, and (3) runs the per-task compare at BLAS speed:

    - blocks are deterministic k-means clusters (``_kmeans_fit_local``:
      driver-side exact-int64 Lloyd on a hash-ordered ≤8192-row sample, 2
      iterations; assignment is the scan-shaped Arrow pass ``_np_assign``
      with the centroid matrix shipped inside the task — no join);
    - per-cluster angular radii (one column-pruned agg, k rows to the
      driver) feed ``_prune_block_pairs``: block pairs whose centroid-based
      cosine UPPER BOUND clears below the threshold never launch at all;
    - each surviving unordered block pair (i ≤ j) becomes ONE cogroup key
      — a vector in block b replicates only to the surviving pairs
      containing b (≤ P rows), and each cross compare runs once;
    - in the kernel the m×n cosine matrix comes from a float32 GEMM on
      normalized rows (``A @ B.T`` — BLAS-blocked SIMD, with no m×n×d
      temp), screened at ``threshold − 1e-4`` less its float32 and
      quantization error bounds, so a qualifying pair can never fall
      below the screen; only screen survivors get the exact
      floor-quantized int64 recompute, and the final ≥ threshold filter
      runs on exact values.

    Scale shape: shuffle volume ≤ O(n·P) vector rows; P(P+1)/2 tasks max,
    fewer after pruning; per-task memory is one block pair plus an m×n
    chunked score matrix.

    Block-count self-sizing: the k-means k is ceil(n / BLOCK_TARGET_ROWS)
    clamped to [N_BLOCKS, KMEANS_MAX_BLOCKS] — the resolve_planes
    occupancy rule — and, after assignment, any cluster still holding
    more than BLOCK_TARGET_ROWS members is hash-split
    (pmod(xxhash64(vec_id), s)) into s = ceil(m / BLOCK_TARGET_ROWS)
    sub-blocks that inherit the parent's centroid + radius, so the
    triangle-inequality bound stays valid and the answer stays EXACT
    while no single task owns a super-linear share of the pair work: one
    filled cluster otherwise serializes the whole compare on one core
    (measured 160 s at a 200k-vector rehearsal, 2.9 s at 20k — a 54×
    decade). Total expanded blocks are capped at SPLIT_MAX_BLOCKS by
    growing the effective block size — bounding the pid-map plan
    literals and the O(P²) driver pruning loop. The quadratic remains
    quadratic on spread-out corpora, so inputs estimated above
    ``COSINE_PAIRS_MAX_BYTES`` (4 GiB ≈ 1e7 vectors) raise with a
    pointer to the sub-quadratic alternatives (``lsh_near_dup``,
    ``semantic_dedup``, ``lsh_ann``) rather than launching an infeasible
    job.

    SECOND gate, on the PLANNED shuffle: input bytes are a proxy the
    pruner can defeat — 2M rotated random-ish 64-d vectors (~500 MB, well
    under the input gate) have near-π cluster radii, the triangle bound
    clears ~nothing, and the cogroup planned ~490M replicated rows ≈
    140 GB of shuffle (measured: local disk filled mid-stage, SCALING.md
    round-12). The driver already holds the block member counts and the
    surviving pair list, so the exact replicated volume
    Σ_{(i,j)} (m_i + m_j)·row_bytes is computed BEFORE launch and refused
    above ``COSINE_SHUFFLE_MAX_BYTES`` (64 GiB) — the quantity that
    actually kills the job, visible only after pruning.
    """
    import numpy as np
    import pandas as pd

    df = _present(df, vec_col)
    # _estimated_bytes maps Catalyst's unknown-stats sentinel to 0
    # (round 9): stat-less in-memory plans take the small-input path;
    # the gate protects against pointing the exact path at a
    # corpus-scale TABLE, and tables carry file-size stats.
    est = _estimated_bytes(df)
    if est > COSINE_PAIRS_MAX_BYTES:
        raise ValueError(
            f"cosine_pairs is the EXACT quadratic path: estimated input "
            f"{est} B exceeds COSINE_PAIRS_MAX_BYTES="
            f"{COSINE_PAIRS_MAX_BYTES} B (~1e7 vectors). Use "
            f"lsh_near_dup / semantic_dedup (near-dup thresholds) or "
            f"lsh_ann (top-k retrieval), or raise COSINE_PAIRS_MAX_BYTES "
            f"after sizing the cluster for the O(n^2) compare."
        )

    if est <= COSINE_SMALL_BYTES:
        # small input: hash blocks, full (i ≤ j) grid, zero fixed jobs.
        # No spread() either — the cogroup shuffle on pid is what fans the
        # kernel tasks out, so pre-repartitioning only adds an exchange.
        p = N_BLOCKS
        assign = df.select(
            "vec_id", F.col(vec_col).alias("v")
        ).withColumn(
            "block", F.pmod(F.col("vec_id"), F.lit(p)).cast("int")
        )
        kept = [(i, j) for i in range(p) for j in range(i, p)]
    else:
        base = spread(df, key="vec_id").select(
            "vec_id", F.col(vec_col).alias("v")
        )
        # occupancy-sized k (one count() job — trivial next to the pair
        # stage it sizes; the resolve_planes rule)
        n_rows = int(base.count())
        k_fit = max(
            N_BLOCKS,
            min(KMEANS_MAX_BLOCKS, -(-n_rows // BLOCK_TARGET_ROWS)),
        )
        # Blocking-quality fit runs DRIVER-LOCAL on a deterministic
        # hash-ordered sample (≤ 8192 × dim floats ≈ 2 MB driver traffic —
        # the dedup_clusters-style bounded collect); the numpy Lloyd loop
        # on the sample is sub-millisecond where the expression-tree fit
        # cost ~4 s of interpreted CodegenFallback per call. The declared
        # ``kmeans_assign`` query keeps the full-data expression fit (its
        # oracle replays those exact semantics); here only the final pair
        # set matters and that is blocking-invariant.
        samp = (
            base.orderBy(F.xxhash64("vec_id"), "vec_id")
            .limit(_KMEANS_FIT_SAMPLE)
            .collect()
        )
        if not samp:  # empty input: typed empty result
            return base.select(
                F.col("vec_id").alias("vec_a"),
                F.col("vec_id").alias("vec_b"),
                F.lit(None).cast("double").alias("cosine"),
            ).where(F.lit(False))
        samp.sort(key=lambda r: r["vec_id"])
        sx = _kquant(_rows([r["v"] for r in samp]))
        cents_arr = _kmeans_fit_local(sx, k_fit, 2)
        kp = len(cents_arr)
        dim = sx.shape[1]

        # Lazy-checkpoint the assignment: it has THREE consumers (the
        # radius agg plus both cogroup sides) and each would otherwise
        # re-run the Arrow distance pass over the full corpus. The radius
        # collect below executes first and materializes it.
        assign = _np_assign(base, cents_arr).localCheckpoint(eager=False)

        # Per-cluster angular radius: min member-centroid cosine + min
        # quantized norm (for the rotation pad) + member count (for the
        # oversized-cluster split) — one column-pruned agg, ≤ k rows.
        radii = {
            r["cluster"]: (r["mc"], r["mn"], r["cnt"])
            for r in assign.groupBy("cluster")
            .agg(
                F.min("cm").alias("mc"),
                F.min("na2").alias("mn"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .collect()
        }
        # memberless clusters have empty blocks — radius 0 is harmless
        min_cos = [radii.get(ci, (1.0, None, 0))[0] for ci in range(kp)]
        rot = [
            _quant_rotation(radii[ci][1], dim) if ci in radii else 0.0
            for ci in range(kp)
        ]
        cents = [list(map(int, c)) for c in cents_arr]
        # Pruning runs on PARENT clusters (the geometry lives there);
        # kept parent pairs then expand into sub-block pairs below.
        kept_parent = _prune_block_pairs(cents, min_cos, threshold, rot=rot)

        # Oversized-cluster split: s_i = ceil(m_i / BLOCK_TARGET_ROWS)
        # hash sub-blocks per cluster, inheriting the parent's geometry.
        # If the expanded total would blow past SPLIT_MAX_BLOCKS, grow the
        # effective block size instead (the compare work per task grows,
        # the plan stays bounded).
        import math as _math

        counts = [radii.get(ci, (None, None, 0))[2] for ci in range(kp)]
        eff_rows = BLOCK_TARGET_ROWS
        splits = [max(1, _math.ceil(c / eff_rows)) for c in counts]
        if sum(splits) > SPLIT_MAX_BLOCKS:
            scale_up = sum(splits) / float(SPLIT_MAX_BLOCKS)
            eff_rows = int(_math.ceil(eff_rows * scale_up))
            splits = [max(1, _math.ceil(c / eff_rows)) for c in counts]
        offsets = [0] * kp
        acc = 0
        for ci in range(kp):
            offsets[ci] = acc
            acc += splits[ci]
        p = acc  # total expanded blocks

        if p == kp:
            # no cluster overflowed: blocks ARE clusters, zero extra ops
            assign = assign.withColumnRenamed("cluster", "block")
            kept = kept_parent
        else:
            off_map = F.create_map(
                *[F.lit(x) for ci in range(kp) for x in (ci, offsets[ci])]
            )
            spl_map = F.create_map(
                *[F.lit(x) for ci in range(kp) for x in (ci, splits[ci])]
            )
            assign = assign.withColumn(
                "block",
                (
                    F.element_at(off_map, F.col("cluster"))
                    + F.pmod(
                        F.xxhash64("vec_id"),
                        F.element_at(spl_map, F.col("cluster")),
                    )
                ).cast("int"),
            )
            kept = []
            for pi, pj in kept_parent:
                if pi == pj:
                    for si in range(splits[pi]):
                        for sj in range(si, splits[pi]):
                            kept.append(
                                (offsets[pi] + si, offsets[pi] + sj)
                            )
                else:
                    for si in range(splits[pi]):
                        for sj in range(splits[pj]):
                            kept.append(
                                (offsets[pi] + si, offsets[pj] + sj)
                            )
        # PLANNED-SHUFFLE refusal (round 12, COSINE_SHUFFLE_MAX_BYTES):
        # every kept pair ships both blocks' member rows to one cogroup
        # key, so the replicated volume is exactly
        # Σ_{(i,j)} (m_i + m_j) · row_bytes — self-pairs included at
        # 2·m_i, because the cogroup explodes block i onto BOTH the
        # a-side and the b-side of pid i·p+i (round-13 ADVICE fix: the
        # earlier m_i-once count could under-estimate by up to 2× on
        # self-pair-dominated plans). The input-bytes gate alone let a 500 MB corpus
        # of random-direction vectors (near-π cluster radii → pruner
        # keeps ~everything) plan ~140 GB of shuffle and kill the node
        # on spill; refusing on the planned volume catches exactly the
        # pruning-hostile geometries the input size cannot see.
        blk_rows = [0.0] * p
        for ci in range(kp):
            share = counts[ci] / float(max(splits[ci], 1))
            for si in range(splits[ci]):
                blk_rows[offsets[ci] + si] = share
        row_bytes = dim * 8 + 32  # UnsafeRow array + ids/keys overhead
        planned = (
            sum(
                blk_rows[i] + (blk_rows[j] if j != i else blk_rows[i])
                for i, j in kept
            )
            * row_bytes
        )
        if planned > COSINE_SHUFFLE_MAX_BYTES:
            raise ValueError(
                f"cosine_pairs planned replicated shuffle ~{planned/2**30:.1f}"
                f" GiB ({len(kept)} surviving block pairs) exceeds "
                f"COSINE_SHUFFLE_MAX_BYTES="
                f"{COSINE_SHUFFLE_MAX_BYTES/2**30:.0f} GiB — the "
                f"block pruner removed too little (pruning-hostile vector "
                f"geometry). Use lsh_near_dup / semantic_dedup (near-dup "
                f"thresholds) or lsh_ann (top-k retrieval), or raise "
                f"COSINE_SHUFFLE_MAX_BYTES after sizing real shuffle "
                f"capacity."
            )
    a_pids: dict[int, list[int]] = {}
    b_pids: dict[int, list[int]] = {}
    for i, j in kept:
        a_pids.setdefault(i, []).append(i * p + j)
        b_pids.setdefault(j, []).append(i * p + j)

    def _pid_map(d: dict[int, list[int]]) -> Column:
        args: list[Column] = []
        for blk in range(p):
            pids = d.get(blk, [])
            args.append(F.lit(blk))
            args.append(
                F.array(*[F.lit(x) for x in pids]).cast("array<int>")
            )
        return F.create_map(*args)

    # The COLUMN side carries RENAMED attributes (vec_id_b / v_b): both
    # sides derive from the SAME source DataFrame, and self-cogroups with
    # identical attribute names have been observed (Spark 4.1, small
    # single-file inputs) to deliver the right-side batch WITHOUT its
    # duplicate-named columns — a silent KeyError in the kernel. Distinct
    # names make the two sides unambiguous regardless of plan shape.
    a = assign.select(
        "vec_id",
        "v",
        F.explode(F.element_at(_pid_map(a_pids), F.col("block"))).alias(
            "pid"
        ),
    )
    b = assign.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("v").alias("v_b"),
        F.explode(F.element_at(_pid_map(b_pids), F.col("block"))).alias(
            "pid"
        ),
    )

    def _block_kernel(
        key: tuple, left: pd.DataFrame, right: pd.DataFrame
    ) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return _empty(_PAIRS)
        bi, bj = divmod(int(key[0]), p)
        A = _rows(left["v"])
        B = _rows(right["v_b"])
        ia = left["vec_id"].to_numpy()
        ib = right["vec_id_b"].to_numpy()
        # A zero quantized norm is NaN (``_norm``), so the screen and the
        # exact recompute both drop the row instead of dividing to ±inf
        # (hypothesis-found: a [6e-8, ...] vector paired at cosine = inf).
        na = _norm(A)
        nb = _norm(B)
        # The screen GEMM runs on FLOAT32 NORMALIZED copies: the m×n
        # score matrix is the bandwidth bottleneck of the whole operator
        # (measured round 9: f64 full-grid screen 90.6 s → f32 26.4 s at
        # the 200k-vector rehearsal — the compare is memory-bound, not
        # flop-bound). Normalizing rows up front turns the screen into a
        # plain dot compare (no per-pair division, no outer-product
        # denominator temp). Degenerate (NaN) norms poison their rows:
        # every cosf involving them is NaN and compares False.
        with np.errstate(invalid="ignore"):
            An = (A * (1.0 / na)[:, None]).astype(np.float32)
            Bn = (B * (1.0 / nb)[:, None]).astype(np.float32)
        Bt = np.ascontiguousarray(Bn.T)
        out = [_empty(_PAIRS)]
        # Screen error budget, all in absolute cosine units:
        # - f32 normalize + accumulate: ≤ (d + 4)·2⁻²⁴ on unit rows
        #   (normalization u each side + γ_d dot accumulation, |cos| ≤ 1)
        # - quantization: |GEMM dot − dotq/S| ≤ d·0.6/S absolute, so in
        #   cosine space it scales with 1/(na·nb) — a fixed pad silently
        #   dropped qualifying small-norm pairs (review-found: two
        #   [7.8e-7,...] vectors have exact cosq = 1.0 but float cosf ≈
        #   0.61). Bounded per row-chunk via the chunk-min right norm
        #   (larger slack = safe over-approximation).
        # _SCREEN_MARGIN (1e-4) dominates both on unit-norm embeddings.
        qerr = A.shape[1] * 0.6 / float(DOT_SCALE)
        f32err = (A.shape[1] + 4) * 2.0**-24
        # BOTH matrix dimensions are chunked: rows at 4096, columns at
        # 1024 so the f32 score chunk (16 MB) stays cache-friendly — the
        # 4096×4096 f64 form wrote 134 MB per chunk and was the measured
        # bottleneck.
        for lo in range(0, len(A), 4096):
            iac = ia[lo : lo + 4096]
            nac = na[lo : lo + 4096]
            Anc = An[lo : lo + 4096]
            Ac = A[lo : lo + 4096]  # f64 view for the exact recompute
            for co in range(0, len(B), 1024):
                Bc = B[co : co + 1024]
                ibc = ib[co : co + 1024]
                nbc = nb[co : co + 1024]
                nbc_fin = nbc[~np.isnan(nbc)]
                nb_min = float(nbc_fin.min()) if len(nbc_fin) else 1.0
                with np.errstate(divide="ignore", invalid="ignore"):
                    cosf = Anc @ Bt[:, co : co + 1024]
                    # per-ROW screen threshold: (m,1) broadcast, no m×n
                    # denominator temp; NaN rows compare False
                    thr = (
                        threshold
                        - _SCREEN_MARGIN
                        - f32err
                        - qerr / (nac * nb_min)
                    )[:, None]
                    m = cosf >= thr
                if bi == bj:
                    # self block pair: same vector set on both sides —
                    # keep one orientation and drop the diagonal
                    m &= iac[:, None] < ibc[None, :]
                r, c = np.nonzero(m)
                if len(r) == 0:
                    continue
                # exact engine arithmetic, only for screen survivors
                cosq = _cosq(_qdot(Ac[r], Bc[c]), nac[r], nbc[c])
                keepm = cosq >= threshold
                if keepm.any():
                    out.append(
                        _pair_frame(
                            iac[r][keepm], ibc[c][keepm], cosq[keepm]
                        )
                    )
        return pd.concat(out, ignore_index=True)

    return (
        a.groupBy("pid")
        .cogroup(b.groupBy("pid"))
        .applyInPandas(_block_kernel, _PAIRS)
    )


def cosine_pairs_catalyst(
    df: DataFrame,
    vec_col: str = "embedding",
    threshold: float = 0.45,
) -> DataFrame:
    """Pure-Catalyst formulation of ``cosine_pairs`` (the same N_BLOCKS
    block-pair replication; candidates meet via a shuffle-hash equi-join
    and the dot product runs as in-row expression lambdas). Nothing falls
    back to it: it is the equality witness for the Arrow kernel, whose
    outputs tests assert bit-identical to it. Its result does not depend
    on the blocking."""
    n = norms(df, vec_col)
    blk = F.pmod(F.col("vec_id"), F.lit(N_BLOCKS))
    other = F.explode(F.sequence(F.lit(0), F.lit(N_BLOCKS - 1)))
    a = n.select(
        F.col("vec_id").alias("vec_a"),
        F.col(vec_col).alias("va"),
        F.col("norm").alias("norm_a"),
        blk.alias("k1"),
        other.alias("k2"),
    )
    b = n.select(
        F.col("vec_id").alias("vec_b"),
        F.col(vec_col).alias("vb"),
        F.col("norm").alias("norm_b"),
        other.alias("k1"),
        blk.alias("k2"),
    )
    pairs = a.hint("shuffle_hash").join(b, on=["k1", "k2"]).where(
        F.col("vec_a") < F.col("vec_b")
    )
    cos = _cosine(F.col("va"), F.col("vb"), F.col("norm_a"), F.col("norm_b"))
    return pairs.select("vec_a", "vec_b", cos.alias("cosine")).where(
        F.col("cosine") >= threshold
    )


def cosine_topk(
    df: DataFrame,
    vec_col: str = "embedding",
    query_pred: Column | None = None,
    k: int = 10,
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the k nearest
    non-identical vectors, deterministically tie-broken by vec_id.

    The corpus×query scoring runs as ONE vectorized Arrow kernel (the
    ``_norm_bucket_frame`` economics — interpreted HOF lambdas paid
    1+|Q| O(dim) array walks per corpus row, ~7 s of the sf10 row):
    the ≤|Q| query vectors collect driver-side (the pq_ann/ivfpq_ann
    bounded-queries convention; the predicate pushes into the scan) and
    ship in the kernel closure; per batch NumPy replays the exact
    column algebra — ``_qdot`` dots, ``_norm`` norms and the ``_cosq``
    quantize, every step an elementwise IEEE double op, bit-identical
    (property-tested). A zero-norm vector has no cosine: it is never a
    candidate, and as a query it yields no rows. The k-bounded per-query
    rank window stays in Spark."""
    import numpy as np
    import pandas as pd

    if query_pred is None:
        query_pred = F.col("vec_id") < 3
    df = _present(df, vec_col)
    queries = (
        df.where(query_pred).select("vec_id", vec_col).orderBy("vec_id")
        .collect()
    )
    scored_schema = "query_id bigint, vec_id bigint, cosine double"
    if not queries:
        return df.sparkSession.createDataFrame(
            [], scored_schema + ", rank int"
        )
    qids = [int(r["vec_id"]) for r in queries]
    qv = _rows([r[vec_col] for r in queries])
    qn = _norm(qv)

    def gen(it):
        for pdf in it:
            V = _rows(pdf[vec_col])
            ids = pdf["vec_id"].to_numpy()
            nrm = _norm(V)
            frames = [_empty(scored_schema)]
            for qid, q, qnorm in zip(qids, qv, qn):
                cosq = _cosq(_qdot(V, q), qnorm, nrm)
                m = (ids != qid) & ~np.isnan(cosq)
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "vec_id": ids[m],
                            "cosine": cosq[m],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    scored = df.select("vec_id", vec_col).mapInPandas(gen, scored_schema)
    return _topk(scored, "cosine", k)


# The deterministic hyperplanes are DATA-INDEPENDENT constants (component
# (p, i) = hex-digit value of md5('p:i') minus 7.5, reproducible in any
# engine with md5 — the oracle SQL derives the identical values from
# DuckDB's md5). They are therefore precomputed here with hashlib —
# bit-identical to the Spark-expression form — and shipped as ONE array
# literal per plane: the expression form re-hashed md5 per VECTOR COMPONENT
# per plane at runtime inside interpreted HOF lambdas, and cost ~0.9 s of
# py4j construction per query call on top.
_MAX_DIM = 1024


@_lru_cache(maxsize=None)
def _plane_values(p: int) -> tuple[float, ...]:
    import hashlib

    return tuple(
        float(int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0], 16)) - 7.5
        for i in range(_MAX_DIM)
    )


@_lru_cache(maxsize=None)
def _plane_literal(p: int) -> str:
    """SQL array literal for plane p. A string parsed by one F.expr:
    ``F.lit(<python list>)`` round-trips every element through py4j
    individually (~6 s for 8×1024 components), and per-element
    ``F.array(F.lit(x), ...)`` is the same thing spelled out."""
    return "array(" + ",".join(f"{x}D" for x in _plane_values(p)) + ")"


def lsh_bucket(vec_col: str = "embedding", n_planes: int = N_PLANES) -> Column:
    """Random-hyperplane LSH bucket id (0..2^n_planes-1) for a vector:
    bit p = sign of <v, plane_p>. Pure projection — no shuffle. Vectors
    wider than the precomputed plane tables fail loudly via assert_true
    (raise _MAX_DIM rather than silently truncating the projection).
    ``n_planes`` is the SCALE knob (planes generate deterministically by
    index, any count works): bucket occupancy is ~n/2^n_planes, and the
    in-bucket candidate term grows with occupancy² — size n_planes so
    occupancy stays bounded as the corpus grows (the simhash n_bands
    rule). More planes also means fewer candidates per probe and lower
    recall per table; the declared queries pin the 8-plane default."""
    v = F.col(vec_col)
    guard = F.assert_true(F.size(v) <= F.lit(_MAX_DIM))
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = F.slice(F.expr(_plane_literal(p)), F.lit(1), F.size(v))
        proj = F.aggregate(
            F.zip_with(v, plane, _qprod),
            F.lit(0).cast("bigint"),
            lambda s, x: s + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**p)).otherwise(F.lit(0))
    return F.when(guard.isNull(), bucket)


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization per vector — the storage/serving
    compression step before ANN indexing (4× smaller than float32, dot
    products stay int-SIMD-able).

    scale = max|x| / 127; q_i = floor(x_i·127/max|x| + 0.5) (round-half-up
    — bit-identical in both engines, unlike banker's round). Pure per-row
    projection, no shuffle; zero vectors quantize to all-zero with scale 0.
    """
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    q = F.when(absmax > 0, F.transform(
        v,
        lambda x: F.floor(
            x.cast("double") * F.lit(127.0) / absmax + F.lit(0.5)
        ).cast("bigint"),
    )).otherwise(F.transform(v, lambda x: F.lit(0).cast("bigint")))
    return df.select(
        "vec_id",
        (absmax / F.lit(127.0)).alias("scale"),
        q.alias("q"),
    )


# resolve_planes' occupancy target: "auto" sizes the plane count so a
# bucket expects at most this many vectors.
PLANES_TARGET_OCCUPANCY = 64


def resolve_planes(df: DataFrame, n_planes) -> int:
    """Resolve the hyperplane count: an integer passes through; the
    string ``"auto"`` sizes it from the corpus so expected bucket
    occupancy n/2^planes stays ≤ ``PLANES_TARGET_OCCUPANCY`` — the
    simhash band-width rule, automated. The sf10 rehearsal measured WHY:
    200k vectors on the 8-plane default is ~780/bucket and 514 s, while
    the occupancy-bounded 12 planes runs 61.7 s (SCALING.md).

    Costs one ``count()`` job (a map-side-combined aggregate over the
    scan — trivial next to the pair stage it sizes). Auto mode changes
    the CANDIDATE SET with corpus size, which is legitimate for an
    approximate operator but wrong for oracle replay — the declared
    queries pin the static default. Capped at 20 planes: beyond 2^20
    buckets the per-row projection cost (one O(dim) aggregate per
    plane) dominates before occupancy does."""
    if n_planes == "auto":
        import math

        n = max(int(df.count()), 1)
        if n <= PLANES_TARGET_OCCUPANCY:
            return N_PLANES
        return max(
            N_PLANES,
            min(20, math.ceil(math.log2(n / PLANES_TARGET_OCCUPANCY))),
        )
    return int(n_planes)


def _norm_bucket(v, n_planes: int):
    """``norms()`` + ``lsh_bucket()`` for a batch matrix: the ``_norm``
    of each row and its n_planes-bit bucket (bit p = ``_qdot`` projection
    on plane p > 0). Rows wider than the plane tables fail loudly, the
    ``lsh_bucket`` assert_true contract."""
    import numpy as np

    dim = v.shape[1]
    if dim > _MAX_DIM:
        raise ValueError(
            f"vector dim {dim} exceeds the {_MAX_DIM}-wide plane tables"
            " (lsh_bucket dim guard)"
        )
    bucket = np.zeros(len(v), dtype=np.int64)
    for p in range(n_planes):
        plane = np.asarray(_plane_values(p)[:dim], dtype=np.float64)
        bucket |= (_qdot(v, plane) > 0).astype(np.int64) << p
    return _norm(v), bucket


# Above this estimated input size lsh_near_dup_pairs switches from the
# oracle-shaped explode/join plan to the bucket-grouped Arrow kernel:
# below it the join finishes in well under a second and the kernel's
# fixed Arrow/worker overhead dominates; above it the join's
# per-candidate interpreted HOF dots are the measured bottleneck
# (918 s at 2M vectors — SCALING.md round 12).
LSH_KERNEL_BYTES = 8 << 20


def _lsh_pairs_kernel(
    df: DataFrame, vec_col: str, threshold: float, n_planes: int
) -> DataFrame:
    """Corpus-scale pair stage for ``lsh_near_dup_pairs`` — identical
    pair set and cosine bits to the expression join (test-asserted),
    with the candidate evaluation vectorized and the candidate ROWS
    never materialized:

    - stage 1 (mapInPandas): per batch, ``_norm_bucket`` gives each
      vector its norm and bucket (the same bits as ``norms()`` and
      ``lsh_bucket``), then the stage emits one EXACT row (kind 0) plus
      one VARIANT row (kind 1) per SET bucket bit with that bit cleared
      — the MIH set-bit rule: a bucket-distance-1 pair differs in
      exactly one bit, exactly one side has it set, so the pair meets
      exactly once, in the cleared side's group; the expected fan-out
      is 1 + n_planes/2 rows per vector vs the join plan's 1 + n_planes
      probe rows.
    - stage 2 (applyInPandas by bucket): exact members E score against
      E (upper triangle by vec_id — distance-0 pairs, found once) and
      against variants V (distance-1 pairs, found once); V×V pairs are
      distance 2 and never scored. Dots are ``_qdot``, cosines
      ``_cosq``. A zero-norm vector's NaN norm (NULL across the Arrow
      hop) makes its cosines NaN, which no threshold passes — the join
      plan's NULL cosine. Row chunks bound the m×n×d temp at ~128 MB.
    """
    import numpy as np
    import pandas as pd

    def _emit(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = _rows(pdf[vec_col])
            ids = pdf["vec_id"].to_numpy()
            nrm, bucket = _norm_bucket(V, n_planes)
            frames = [
                pd.DataFrame(
                    {
                        "vec_id": ids,
                        "v": list(V),
                        "norm": nrm,
                        "bkt": bucket,
                        "kind": np.zeros(len(ids), dtype=np.int32),
                    }
                )
            ]
            for t in range(n_planes):
                m = (bucket >> t) & 1 == 1
                if m.any():
                    frames.append(
                        pd.DataFrame(
                            {
                                "vec_id": ids[m],
                                "v": list(V[m]),
                                "norm": nrm[m],
                                "bkt": bucket[m] ^ (1 << t),
                                "kind": np.ones(
                                    int(m.sum()), dtype=np.int32
                                ),
                            }
                        )
                    )
            yield pd.concat(frames, ignore_index=True)

    keyed = df.select("vec_id", F.col(vec_col).alias(vec_col)).mapInPandas(
        _emit,
        "vec_id long, v array<double>, norm double, bkt long, kind int",
    )

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        # lexsort, not kind*(1<<62)+id: kind arrives int32 from the
        # Arrow schema and NumPy>=2.0 (NEP 50) raises OverflowError on
        # int32_array * out-of-range Python int (round-13 ADVICE).
        order = np.lexsort(
            (pdf["vec_id"].to_numpy(), pdf["kind"].to_numpy())
        )
        ids = pdf["vec_id"].to_numpy()[order]
        kinds = pdf["kind"].to_numpy()[order]
        nrm = pdf["norm"].to_numpy()[order]
        V = _rows(pdf["v"])[order]
        n_e = int((kinds == 0).sum())
        if n_e == 0 or len(ids) < 2:
            return _empty(_PAIRS)
        outs = [_empty(_PAIRS)]
        cols = np.arange(len(ids))[None, :]
        for c0 in range(0, n_e, 256):
            c1 = min(c0 + 256, n_e)
            acc = np.zeros((c1 - c0, len(ids)), dtype=np.int64)
            for d0 in range(0, V.shape[1], 64):
                d1 = min(d0 + 64, V.shape[1])
                acc += _qdot(V[c0:c1, None, d0:d1], V[None, :, d0:d1])
            cosq = _cosq(acc, nrm[c0:c1, None], nrm[None, :])
            rows = np.arange(c0, c1)[:, None]
            m = (((cols < n_e) & (rows < cols)) | (cols >= n_e)) & (
                cosq >= threshold
            )
            rr, cc = np.nonzero(m)
            if len(rr):
                outs.append(_pair_frame(ids[c0 + rr], ids[cc], cosq[rr, cc]))
        return pd.concat(outs, ignore_index=True)

    return keyed.groupBy("bkt").applyInPandas(_score, _PAIRS)


def lsh_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_planes: int | str = N_PLANES,
) -> DataFrame:
    """SUB-QUADRATIC approximate near-dup mining: candidate pairs are
    restricted to hyperplane buckets that are equal or differ in exactly
    one bit (Hamming-1 multiprobe), then scored with the exact cosine.
    A NULL vector is an absent row; a zero-norm vector has no cosine and
    is in no pair.

    This is the scale path ``cosine_pairs`` deliberately is not: candidates
    per vector are ~9n/256 instead of n, at the price of recall. The
    operator's CONTRACT is the bucket-restricted definition — the oracle
    mirrors the same bucket condition in SQL, so the declared query has
    exact parity over its approximate semantics; recall vs the exact
    operator is measured separately in tests (5/14 at cosine 0.45 on this
    corpus — low because 0.45 is a ~63° angle; at true near-dup thresholds
    ≥0.85 hyperplane agreement is ~0.93/plane and recall is high).

    Exactly-once pairing: the left side carries its own bucket, the right
    side explodes bucket ∪ {bucket⊕2^p}; a pair at bucket-Hamming 0 or 1
    matches exactly one probe, and ``vec_a < vec_b`` fixes orientation.

    The input is ``spread()`` first (round 12): the norm + n_planes
    hyperplane projections are interpreted higher-order expressions
    (~n_planes·dim ops per ROW) computed in the scan stage, so a 500 MB
    parquet's ~7 natural splits serialize the heaviest map work of the
    whole operator on 7 cores; data-proportional spread fans it to the
    core count and is a no-op at cluster-scale inputs.

    Size-gated twin plans (round 12, the simhash precedent): the
    expression join above is the ORACLE-SHAPED plan and stays selected
    below ``LSH_KERNEL_BYTES``; past it, the pair stage runs as the
    engine's established bucket-grouped Arrow kernel
    (``_lsh_pairs_kernel``) — the sf100 continuation measured the join
    plan at 918 s with ~10⁹ interpreted per-candidate HOF dots as the
    bottleneck. The kernel replays every quantized step bit-identically
    (the cosine_topk convention), uses mih_pairs' SET-BIT variant
    transport (each vector emits its bucket + one variant per SET
    bucket bit, so a bucket-distance-1 pair meets exactly once, in the
    cleared side's group; distance-0 pairs meet in their shared
    bucket's exact set), and never materializes candidate pairs as
    rows. Pair sets and cosine bits are test-asserted equal between the
    plans.
    """
    df = spread(_present(df, vec_col), key="vec_id")
    n_planes = resolve_planes(df, n_planes)
    if _estimated_bytes(df) >= LSH_KERNEL_BYTES:
        return _lsh_pairs_kernel(df, vec_col, threshold, n_planes)
    n = norms(df, vec_col).withColumn(
        "bucket", lsh_bucket(vec_col, n_planes)
    )
    a = n.select(
        F.col("vec_id").alias("vec_a"),
        F.col(vec_col).alias("va"),
        F.col("norm").alias("norm_a"),
        "bucket",
    )
    b = n.select(
        F.col("vec_id").alias("vec_b"),
        F.col(vec_col).alias("vb"),
        F.col("norm").alias("norm_b"),
        F.explode(_probes(F.col("bucket"), n_planes)).alias("bucket"),
    )
    pairs = a.hint("shuffle_hash").join(b, on="bucket").where(
        F.col("vec_a") < F.col("vec_b")
    )
    cos = _cosine(F.col("va"), F.col("vb"), F.col("norm_a"), F.col("norm_b"))
    return pairs.select("vec_a", "vec_b", cos.alias("cosine")).where(
        F.col("cosine") >= threshold
    )


def ivf_ann(
    df: DataFrame,
    vec_col: str = "embedding",
    cluster_col: str = "label",
    query_pred: Column | None = None,
    k: int = 5,
) -> DataFrame:
    """IVF-style ANN: candidates limited to the query's coarse cluster
    (here a precomputed assignment column; ``kmeans_fit_assign`` below is
    the deterministic in-repo trainer that produces one), then exact
    cosine + top-k.

    Same join shape as ``lsh_ann`` — an equi-join on the cluster id — so at
    1e9 vectors each query touches ~n/n_clusters candidates. Unlike LSH the
    partitioning is data-adaptive (centroids follow density).

    The cluster column rides through ``norms()`` (joining it back on
    vec_id self-joined the embeddings table — two extra corpus scans for
    a column that was in the scan all along)."""
    if query_pred is None:
        query_pred = F.col("vec_id") < 3
    n = norms(_present(df, vec_col), vec_col, cluster_col)
    q = n.where(query_pred).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("norm").alias("qnorm"),
        cluster_col,
    )
    return _keyed_cosine_topk(n, q, cluster_col, vec_col, k)


def _norm_bucket_frame(
    df: DataFrame, vec_col: str, n_planes: int
) -> DataFrame:
    """(vec_id, vec, norm, bucket) via ONE vectorized Arrow kernel —
    value-identical to ``norms() + lsh_bucket()`` (property-tested) but
    ~5× faster at corpus scale: Spark evaluates higher-order-function
    lambdas (``aggregate``/``zip_with``) in CodegenFallback interpreted
    mode, so the column-algebra form pays 1+n_planes interpreted
    O(dim) array walks PER ROW — at 500k×64-d that alone was ~11 s of
    the sf10 lsh_ann row. ``_norm_bucket`` replays the same integer
    arithmetic in NumPy; a zero-norm vector's NaN norm arrives in Spark
    as NULL, so ``_cosine`` gives it no cosine."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            norm, bucket = _norm_bucket(_rows(pdf[vec_col]), n_planes)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    vec_col: pdf[vec_col],
                    "norm": norm,
                    "bucket": bucket.astype("int32"),
                }
            )

    # carry the INPUT element type through (array<float> vs array<double>):
    # hard-coding float would silently downcast a double corpus before
    # the exact-cosine re-rank, where the old norms()+lsh_bucket path
    # preserved it
    vec_t = df.schema[vec_col].dataType.simpleString()
    return df.select("vec_id", vec_col).mapInPandas(
        gen,
        f"vec_id bigint, {vec_col} {vec_t}, norm double, bucket int",
    )


def lsh_ann(
    df: DataFrame,
    vec_col: str = "embedding",
    query_pred: Column | None = None,
    k: int = 5,
    n_planes: int | str = N_PLANES,
) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors: queries meet
    candidates in their own hyperplane bucket and in every bucket at
    Hamming distance 1 (one flipped hyperplane bit), then exact cosine +
    top-k. Multi-probe grows the candidates from ~n/256 to ~9n/256 per
    query while recall rises sharply — the standard multi-probe LSH
    trade. The probe set explodes on the (tiny, broadcast) QUERY side,
    so the candidate join stays one equi-join.

    ``n_planes="auto"`` sizes the plane count from the corpus so bucket
    occupancy stays bounded as it grows (see ``resolve_planes``).

    The corpus-side (norm, bucket) projection runs as the vectorized
    Arrow kernel ``_norm_bucket_frame`` (value-identical to the column
    algebra, see its docstring for the CodegenFallback economics); the
    candidate-side exact cosine stays column algebra — it touches only
    ~9·occupancy rows per query.
    """
    df = _present(df, vec_col)
    n_planes = resolve_planes(df, n_planes)
    if query_pred is None:
        query_pred = F.col("vec_id") < 3
    n = _norm_bucket_frame(df, vec_col, n_planes)
    # query side: filter the RAW scan (the predicate pushes into the
    # parquet read — it cannot push through the corpus kernel, and
    # filtering n would re-run the kernel over the whole corpus for a
    # handful of query rows), then column-algebra norm/bucket on the
    # tiny result — value-identical to the kernel (property-tested)
    q = (
        norms(df.where(query_pred), vec_col)
        .withColumn("bucket", lsh_bucket(vec_col, n_planes))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.col("norm").alias("qnorm"),
            "bucket",
        )
        .withColumn("bucket", F.explode(_probes(F.col("bucket"), n_planes)))
    )
    return _keyed_cosine_topk(n, q, "bucket", vec_col, k)


# semantic_dedup's within-cluster pair budget: the operator's scale
# contract is that the CALLER supplies adequately granular clusters
# (SemDeDup sizes k so clusters fit a task). A coarse cluster column is
# a silent quadratic bomb — the round-12 sf100 rehearsal planned
# Σ n_c(n_c−1)/2 ≈ 2·10¹¹ exact dots from 10 replicated labels over 2M
# vectors. The probe (one column-pruned count agg, only run past
# SEMANTIC_PROBE_BYTES) computes that pair term exactly and refuses
# above the budget, naming the re-clustering knob. 2e9 pairs ≈ hours on
# one node / minutes on a real cluster — raise explicitly after sizing.
SEMANTIC_DEDUP_MAX_PAIRS = 2_000_000_000
SEMANTIC_PROBE_BYTES = 4 << 20  # ≈16k vectors; below this the worst
# case (all one cluster) is ~1e8 pairs — no probe job needed


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    cluster_col: str = "label",
    threshold: float = 0.45,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — no reference-repo counterpart; capability
    extension per SURVEY.md §2.11): drop an embedding when its cosine to
    an EARLIER (lower ``vec_id``) member of the SAME coarse cluster
    reaches ``threshold``. Output: one row per dropped vector with its
    keeper (``dup_of`` = the smallest qualifying earlier vec_id, the
    deterministic keeper election) and that pair's cosine. A NULL vector
    is an absent row; a zero-norm vector has no cosine and is in no pair.

    Scale shape — the whole point of the algorithm: the quadratic
    compare is confined WITHIN clusters, so the pair term is
    sum(n_c²)/2, controlled by the clustering granularity k (cluster
    size ~n/k; SemDeDup runs k-means with k large enough that clusters
    fit a task — same contract here, where ``cluster_col`` is the
    precomputed coarse assignment, cf. ``ivf_ann``). One hash exchange
    on the cluster key; the self-join meets on that key (shuffled-hash
    at scale, broadcast at toy scale — never SortMerge, plan-asserted
    engine-wide), dot products stay in codegen via ``dot_exact``.

    The documented trade (and why this is NOT ``embedding_near_dup``):
    cross-cluster near-duplicates are invisible — on the sf0.01 fixture
    only 2 of the 14 exact cosine≥0.45 pairs share a cluster, so
    semantic dedup drops exactly those 2 (test-pinned). Exactness
    within the blocking is oracle-checked; the blocking loss is the
    algorithm's published recall trade, not an implementation gap.

    Granularity guard (round 12): inputs past ``SEMANTIC_PROBE_BYTES``
    pay one column-pruned count agg computing the EXACT within-cluster
    pair term Σ n_c(n_c−1)/2; above ``SEMANTIC_DEDUP_MAX_PAIRS`` the
    operator refuses with the re-clustering knob named instead of
    silently launching a quadratic the cluster column cannot support
    (the sf100 rehearsal's 10 replicated labels planned ~2·10¹¹ pairs —
    SCALING.md)."""
    df = _present(df, vec_col)
    if _estimated_bytes(df) > SEMANTIC_PROBE_BYTES:
        pair_term = (
            df.groupBy(cluster_col)
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(
                F.sum(
                    F.col("__c").cast("double")
                    * (F.col("__c") - 1).cast("double")
                    / 2.0
                ).alias("__p")
            )
            .collect()[0]["__p"]
        )
        if pair_term is not None and pair_term > SEMANTIC_DEDUP_MAX_PAIRS:
            raise ValueError(
                f"semantic_dedup within-cluster pair term "
                f"{pair_term:.2e} exceeds SEMANTIC_DEDUP_MAX_PAIRS="
                f"{SEMANTIC_DEDUP_MAX_PAIRS:.0e}: the "
                f"'{cluster_col}' clustering is too coarse for this corpus "
                f"(SemDeDup's contract sizes clusters to fit a task). "
                f"Re-cluster with kmeans_assign at k ≈ n/8192 (or a hash "
                f"split), use lsh_near_dup, or raise "
                f"SEMANTIC_DEDUP_MAX_PAIRS after sizing the cluster."
            )
    n = norms(spread(df, key="vec_id"), vec_col, cluster_col)
    earlier = n.select(
        F.col("vec_id").alias("vec_a"),
        F.col(vec_col).alias("va"),
        F.col("norm").alias("na"),
        cluster_col,
    )
    cos = _cosine(F.col("va"), F.col(vec_col), F.col("na"), F.col("norm"))
    cand = (
        n.join(earlier, on=cluster_col)
        .where(F.col("vec_a") < F.col("vec_id"))
        .select(
            F.col(cluster_col),
            "vec_id",
            "vec_a",
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    return cand.groupBy("vec_id").agg(
        F.any_value(cluster_col).alias(cluster_col),
        F.min("vec_a").alias("dup_of"),
        F.expr("min_by(cosine, vec_a)").alias("cosine"),
    )


# Component quantization for the deterministic k-means: integer units of
# 1e-6. Distances are exact BIGINTs (dim 64 × (6e5)² ≈ 2.3e13 ≪ 2^63), so
# assignment and centroid updates are bit-identical in any engine — no
# float-sum order dependence anywhere in the loop.
KMEANS_SCALE = 1_000_000


def _kq(v: Column) -> Column:
    return F.transform(
        v,
        lambda x: F.floor(
            x.cast("double") * F.lit(float(KMEANS_SCALE)) + F.lit(0.5)
        ).cast("bigint"),
    )


def _kquant(v):
    """``_kq`` in NumPy: components as int64 units of 1/KMEANS_SCALE."""
    import numpy as np

    return np.floor(v * float(KMEANS_SCALE) + 0.5).astype(np.int64)


def _quantized(df: DataFrame, vec_col: str, *carry: str) -> DataFrame:
    """The k-means / PQ family's one input stage: the rows whose vector
    is not NULL (``_present``), ``spread()`` for the per-row kernels, as
    (vec_id, qv = the ``_kq``-quantized vector, *carry)."""
    return spread(_present(df, vec_col), key="vec_id").select(
        "vec_id", _kq(F.col(vec_col)).alias("qv"), *carry
    )


def kmeans_fit_assign(
    df: DataFrame, vec_col: str = "embedding", k: int = 4, n_iter: int = 2
) -> DataFrame:
    """Deterministic Lloyd k-means over an embedding column — the trainer
    that produces the coarse quantizer ``ivf_ann`` / ``semantic_dedup``
    consume as a precomputed assignment. Engine-portable BY CONSTRUCTION:
    components quantize to integer units (``KMEANS_SCALE``), squared
    distances and per-dimension sums are exact BIGINT arithmetic, and the
    centroid update is floor(sum/count) on doubles that are
    exactly-representable (|sum| < 2^53 up to ~1e9 unit-normalized
    vectors) — so there is NO float-summation order dependence and a SQL
    oracle replays every iteration bit-for-bit. Init = the k
    lowest-vec_id vectors; ties in assignment go to the lowest cluster
    index; an emptied cluster keeps its previous centroid.

    This is product quantization with ONE subspace: the fit is
    ``_pq_fit_books`` at m = 1 (one Arrow assignment pass + one k·dim-row
    stats aggregate per iteration — the only driver traffic) and the
    final assignment is ``_pq_encode_frame``, whose single code is the
    cluster and whose quantization error is the squared distance.
    Returns the FINAL assignment (vec_id, cluster, dist) after
    ``n_iter`` updates.
    """
    q = _quantized(df, vec_col)
    books = _pq_fit_books(q, 1, k, n_iter)
    return _pq_encode_frame(q, books).select(
        "vec_id",
        F.col("codes")[0].alias("cluster"),
        F.col("err").alias("dist"),
    )


def kcenter_sample(
    df: DataFrame, vec_col: str = "embedding", k: int = 8
) -> DataFrame:
    """Greedy farthest-point (Gonzalez) k-center selection over an
    embedding column — diversity-MAXIMIZING coreset sampling, the
    complement of the frequency/quality samplers: pick the k vectors
    that spread over the embedding space (2-approximation of the
    optimal k-center cover), the standard diverse-subset primitive for
    training-data curation and IVF seeding.

    Deterministic and engine-portable by the k-means construction
    (``KMEANS_SCALE`` integer quantization, exact BIGINT squared
    distances — no float-sum order dependence): the seed is the lowest
    vec_id; each round selects the not-yet-selected vector with the
    MAXIMUM exact integer squared distance to its nearest selected
    center, ties to the lowest vec_id. A SQL oracle replays every round
    bit-for-bit (unrolled CTEs, the ``kmeans_fit_assign`` pattern).

    Returns (sel_rank, vec_id, dist): dist = the selected vector's
    min-squared-distance to the prior centers in KMEANS_SCALE² integer
    units at selection time (0 for the seed) — the classic k-center
    coverage-radius curve.

    Scale shape: k rounds, each ONE scan-shaped pass — the selected
    centers ship as literal arrays in the plan (ship-the-model, no
    join; round r evaluates r literal distances per row) and the argmax
    is a TakeOrderedAndProject (per-partition top-1 + driver merge of
    #partitions rows — no global sort shuffle). Driver traffic: one
    (id, vector) row per round. Total work O(k²·n/P) per executor; for
    the large-k regime keep a running-min column checkpointed per round
    (O(k·n)) instead — at the k ≤ 64 this trainer targets, the
    stateless literal form is cheaper than k materialization barriers
    (the bigram-LM checkpoint lesson, text.py).
    """
    q = _quantized(df, vec_col)
    spark = df.sparkSession
    out_schema = "sel_rank int, vec_id bigint, dist bigint"
    seed = q.orderBy("vec_id").limit(1).collect()
    if not seed:
        return spark.createDataFrame([], out_schema)
    sel: list[tuple[int, int, int]] = [(0, seed[0]["vec_id"], 0)]
    cents: list[list[int]] = [list(seed[0]["qv"])]
    for r in range(1, k):
        dists = []
        for ci, c in enumerate(cents):
            lit = F.array(*[F.lit(int(x)) for x in c])
            d = F.aggregate(
                F.zip_with(F.col("qv"), lit, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("bigint"),
                lambda s, v: s + v,
            )
            dists.append(d)
        mind = dists[0] if len(dists) == 1 else F.least(*dists)
        cand = (
            q.where(~F.col("vec_id").isin([s[1] for s in sel]))
            .select("vec_id", "qv", mind.alias("mind"))
            .orderBy(F.col("mind").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()
        )
        if not cand:  # fewer vectors than k: the selection IS the corpus
            break
        row = cand[0]
        sel.append((r, row["vec_id"], row["mind"]))
        cents.append(list(row["qv"]))
    return spark.createDataFrame(sel, out_schema)

def pq_encode(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 8,
    n_iter: int = 1,
    books: list[list[list[int]]] | None = None,
) -> DataFrame:
    """Product quantization (Jégou et al. 2011) — the codebook
    compression half of the standard IVF+PQ ANN stack: split each
    vector into ``m`` contiguous subspaces, train an independent
    ``k``-centroid codebook per subspace with the deterministic
    integer-space Lloyd fit (``_pq_fit_books`` — exact BIGINT distances,
    id-ordered init, floor(sum/count) updates), and encode every vector
    as its ``m`` nearest-centroid code ids. A 64-dim float32 vector
    becomes m small ints — with m=4, k=8 that is 4 × 3 bits of
    addressable structure per vector, the memory shape that lets a
    100 TB corpus keep its whole index in RAM.

    Deterministic and engine-portable end-to-end by the k-means
    construction (ties → lowest code id; the SQL oracle replays every
    subspace's fit and assignment bit-for-bit). Requires dim % m == 0.

    Returns (vec_id, codes array<int>, err bigint): err = the summed
    exact integer squared quantization error over subspaces — the
    training-quality diagnostic (lower = tighter codebooks).

    Scale shape: the fits see only k·(dim/m)-long driver rows per
    subspace per iteration (the bounded kmeans collect); the encode
    pass is ONE scan-shaped Arrow kernel — all m codebooks ship in its
    closure (ship-the-model, no joins, no shuffle beyond the scan).
    ``books`` lets callers that already fitted the deterministic
    codebooks on this exact (data, m, k, n_iter) skip the refit — the
    fit is a pure function of those inputs, so passing them is
    value-identical (the registry's shared-books cache).
    """
    q = _quantized(df, vec_col)
    if books is None:
        books = _pq_fit_books(q, m, k, n_iter)
    return _pq_encode_frame(q, books)


def _pq_fit_books(
    q: DataFrame, m: int, k: int, n_iter: int
) -> list[list[list[int]]]:
    """One independent integer-kmeans codebook per contiguous subspace
    (the one Lloyd fit of the family: ``pq_encode`` / ``ivfpq_ann`` /
    ``pq_ann``, and ``kmeans_fit_assign`` at m = 1), fitted with ONE job
    per Lloyd round for ALL m subspaces:

    - INIT is one job: every per-subspace fit seeds from the k
      lowest-vec_id vectors, and slicing commutes with that selection,
      so one k-row collect of the FULL vectors, sliced on the driver,
      is bit-identical to m per-subspace init collects. The dimension
      comes from those rows, so the dim % m check costs no job.
    - Each Lloyd round is ONE Arrow kernel that computes all m
      subspace assignments (``_nearest``) from the full vector (the m
      codebooks ride in the closure), followed by ONE (subspace,
      cluster, pos) stats aggregate — m·k·sub output rows, the only
      driver traffic; the update is floor(sum/count), and an emptied
      cluster keeps its centroid.

    Why this fusion works where two earlier ones failed (both
    measured): the r9 fused-lambda projection (2.4× slower) and the
    r10 unioned multi-branch stats plan (1.4× slower) both multiplied
    CODEGEN branches — m column-algebra sub-plans compiling serially
    inside one plan. Here the m-way work lives inside a single Python
    kernel (no codegen at all) and the stats agg is one ordinary
    grouped plan, so there is nothing to compile m times.

    Returns m lists of k' = min(k, rows) centroids (m empty lists on an
    empty input).
    """
    import math

    import numpy as np
    import pandas as pd

    init = q.orderBy("vec_id").limit(k).collect()
    if not init:
        return [[] for _ in range(m)]
    dim = len(init[0]["qv"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m
    books = [
        [list(r["qv"])[s * sub : (s + 1) * sub] for r in init]
        for s in range(m)
    ]
    kk = len(init)
    for _ in range(n_iter):
        Cs = [np.asarray(b, dtype=np.int64) for b in books]

        def gen(it):
            for pdf in it:
                V = _rows(pdf["qv"], "int64")
                out = {"qv": pdf["qv"]}
                for s in range(m):
                    out[f"__c{s}"], _ = _nearest(
                        V[:, s * sub : (s + 1) * sub], Cs[s]
                    )
                yield pd.DataFrame(out)

        a = q.select("qv").mapInPandas(
            gen,
            "qv array<bigint>, "
            + ", ".join(f"__c{s} int" for s in range(m)),
        )
        ex = a.select(
            F.posexplode("qv").alias("pos", "val"),
            *[F.col(f"__c{s}") for s in range(m)],
        ).withColumn("s", (F.col("pos") / sub).cast("int"))
        cluster = F.when(F.col("s") == 0, F.col("__c0"))
        for s in range(1, m):
            cluster = cluster.when(F.col("s") == s, F.col(f"__c{s}"))
        stats = (
            ex.select(
                "s",
                cluster.alias("cluster"),
                (F.col("pos") % sub).alias("p"),
                "val",
            )
            .groupBy("s", "cluster", "p")
            .agg(F.sum("val").alias("sum"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
        by: dict = {}
        for r in stats:
            by.setdefault((r["s"], r["cluster"]), {})[r["p"]] = (
                r["sum"], r["c"],
            )
        books = [
            [
                [
                    math.floor(by[(s, ci)][p][0] / by[(s, ci)][p][1])
                    for p in range(sub)
                ]
                if (s, ci) in by
                else books[s][ci]
                for ci in range(kk)
            ]
            for s in range(m)
        ]
    return books


def _pq_encode_frame(
    q: DataFrame, books: list[list[list[int]]], carry: tuple[str, ...] = (),
) -> DataFrame:
    """Encode pass over already-fitted codebooks: ONE vectorized Arrow
    kernel with the codebooks in its closure (ship-the-model — no
    joins, no shuffle beyond the scan). ``carry`` names extra input
    columns passed through unchanged (ivfpq_ann carries the coarse
    cell label).

    Per subspace the code is the ``_nearest`` centroid (FIRST minimum —
    ties → lowest code id) and err sums the exact integer squared
    distances, so codes and err are the same integers the SQL oracle
    derives. The column-algebra form this kernel replaced evaluated m·k
    interpreted ``aggregate``/``zip_with`` lambdas per row
    (CodegenFallback) — the bulk of the sf10 pq_encode row."""
    import numpy as np
    import pandas as pd

    cents = [np.asarray(b, dtype=np.int64) for b in books]

    def gen(it):
        for pdf in it:
            V = _rows(pdf["qv"], "int64")
            err = np.zeros(len(V), dtype=np.int64)
            codes = np.zeros((len(V), len(cents)), dtype=np.int32)
            for s, C in enumerate(cents):
                w = C.shape[1]
                codes[:, s], d = _nearest(V[:, s * w : (s + 1) * w], C)
                err += d
            out = {"vec_id": pdf["vec_id"]}
            for c in carry:
                out[c] = pdf[c]
            out["codes"] = list(codes)
            out["err"] = err
            yield pd.DataFrame(out)

    carry_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in q.schema.fields
        if f.name in carry
    )
    return q.select("vec_id", *carry, "qv").mapInPandas(
        gen,
        f"vec_id bigint{carry_schema}, codes array<int>, err bigint",
    )


def pq_ann(
    df: DataFrame,
    vec_col: str = "embedding",
    query_pred: Column | None = None,
    k: int = 5,
    m: int = 4,
    n_codes: int = 8,
    n_iter: int = 1,
    books: list[list[list[int]]] | None = None,
) -> DataFrame:
    """ADC (asymmetric distance computation) approximate nearest
    neighbors over PQ codes — the search half of IVF+PQ: queries score
    every vector as the SUM of per-subspace lookup-table entries
    table[s][code] = exact integer distance(query_subvector,
    codebook_centroid), so the corpus side touches only its m small
    code ids, never the raw vectors.

    This is ``ivfpq_ann`` over ONE constant cell: with every vector in
    the probed cell the IVF stage prunes nothing, and fit, encode,
    tables, scorer and ranking are that operator's (see its docstring).
    Ties rank by lowest vec_id; the SQL oracle replays fit, encode,
    tables, and ranking exactly.

    Returns (query_id, vec_id, adc, rank): adc = the integer
    approximate squared distance (KMEANS_SCALE² units), rank 1..k per
    query, self-matches excluded.
    """
    return ivfpq_ann(
        df.withColumn("__cell", F.lit(0)),
        vec_col,
        "__cell",
        query_pred,
        k,
        m,
        n_codes,
        n_iter,
        books=books,
    )


def ivfpq_ann(
    df: DataFrame,
    vec_col: str = "embedding",
    cluster_col: str = "label",
    query_pred: Column | None = None,
    k: int = 5,
    m: int = 4,
    n_codes: int = 8,
    n_iter: int = 1,
    n_probe: int = 1,
    books: list[list[list[int]]] | None = None,
) -> DataFrame:
    """IVF×PQ composed — the canonical 100 TB ANN shape (Jégou et al.
    2011): a coarse inverted-file stage prunes the corpus to the
    query's cell (the precomputed ``cluster_col`` assignment, same
    coarse quantizer ``ivf_ann`` consumes), and within the probed cell
    candidates are scored by ADC over PQ codes — so the corpus side
    touches only (cell label, m code bytes) per vector, never the raw
    floats, AND only ~n/n_cells of those rows reach the scorer.

    Codebooks are GLOBAL (fitted on the whole corpus, not per-cell
    residuals — the simpler published variant), so fit/encode reuse
    ``_pq_fit_books`` / ``_pq_encode_frame`` verbatim and the encode
    stays one scan-shaped pass with the books in the kernel closure.

    Scale shape: the per-query ADC lookup tables (m·k small ints each)
    ride in a BROADCAST query table keyed by cell label; candidates
    meet via the broadcast equi-join on the label — the IVF probe IS
    the join pruning, no explode of the query set over corpus rows —
    then one k-bounded per-query rank window. Deterministic end-to-end
    (integer fit, integer tables, ties to lowest vec_id); the SQL
    oracle replays fit, encode, tables, probe, and ranking exactly.

    ``n_probe`` is the standard IVF recall lever: probe the query's own
    cell plus its (n_probe−1) nearest OTHER cells by exact integer
    distance to each cell's floor-mean centroid (the same floor(sum/
    count) integer means the kmeans trainer uses, so the ranking is
    deterministic and replayable; ties break on lowest cell label). The
    probe set widens only the BROADCAST query table — one extra ~100-
    byte row per extra probed cell — while the corpus-side plan shape
    (one broadcast equi-join on the label, per-query rank window) is
    unchanged; candidates stay disjoint because each corpus vector
    carries exactly one label. Centroid means cost one k·dim-bounded
    aggregate + collect (the kmeans driver-traffic convention).
    Probing ALL cells makes the candidate set the whole corpus, so
    ``n_probe = n_cells`` is EXACTLY ``pq_ann`` (one constant cell) —
    the equivalence the test suite pins as the multi-probe
    correctness anchor.

    Returns (query_id, vec_id, adc, rank) — rank 1..k within the probed
    cell(s), self-matches excluded.
    """
    if query_pred is None:
        query_pred = F.col("vec_id") < 3
    q = _quantized(df, vec_col, cluster_col)
    out_schema = "query_id bigint, vec_id bigint, adc bigint, rank int"
    # overlap the fit-independent collects (query rows; the n_probe>1
    # per-cell centroid means) with the fit's job chain — side threads
    from concurrent.futures import ThreadPoolExecutor

    def _collect_queries():
        return (
            q.where(query_pred)
            .select("vec_id", "qv", cluster_col)
            .orderBy("vec_id")
            .collect()
        )

    def _collect_cell_means():
        # k·dim-bounded centroid aggregate (the kmeans driver-traffic
        # convention): per-cell floor-mean of each coordinate
        return (
            q.select(cluster_col, F.posexplode("qv").alias("pos", "x"))
            .groupBy(cluster_col, "pos")
            .agg(F.floor(F.sum("x") / F.count("x")).alias("mu"))
            .collect()
        )

    with ThreadPoolExecutor(max_workers=2) as _ex:
        _fq = _ex.submit(_collect_queries)

        def _means_if_queries():
            # gate on the query collect (same thread pool, still fully
            # overlapped with the fit in the warm path): when the query
            # predicate matches no rows the result is discarded by the
            # empty-queries early return below, so don't submit the job
            return _collect_cell_means() if _fq.result() else None

        _fcm = _ex.submit(_means_if_queries) if n_probe > 1 else None
        if books is None:
            # caller-supplied books skip the refit (pure function of
            # (data, m, n_codes, n_iter) — the shared-books cache)
            books = _pq_fit_books(q, m, n_codes, n_iter)
        queries = _fq.result()
        cm = _fcm.result() if _fcm is not None else None
    codes = _pq_encode_frame(q, books, carry=(cluster_col,)).select(
        "vec_id", cluster_col, "codes"
    )
    if not queries:
        return df.sparkSession.createDataFrame([], out_schema)
    # Per-query ADC tables as a broadcast DataFrame row (query_id, cell
    # label, m lookup arrays) — n_queries · m · n_codes small ints.
    from pyspark.sql.types import (
        ArrayType, LongType, StructField, StructType,
    )

    cell_field = next(
        f for f in df.schema.fields if f.name == cluster_col
    )
    cent_vec: dict = {}
    if n_probe > 1:
        acc: dict = {}
        for r in cm:
            acc.setdefault(r[cluster_col], {})[r["pos"]] = int(r["mu"])
        cent_vec = {
            lab: [d[p] for p in range(len(d))] for lab, d in acc.items()
        }
    sub = len(books[0][0])
    qrows = []
    for row in queries:
        qv = list(row["qv"])
        tbls = []
        for s, cents in enumerate(books):
            qs = qv[s * sub:(s + 1) * sub]
            tbls.append(
                [
                    int(sum((a - b) * (a - b) for a, b in zip(qs, c)))
                    for c in cents
                ]
            )
        own = row[cluster_col]
        labels = [own]
        if n_probe > 1:
            others = sorted(
                (
                    sum(
                        (a - b) * (a - b)
                        for a, b in zip(qv, cvec)
                    ),
                    lab,
                )
                for lab, cvec in cent_vec.items()
                if lab != own
            )
            labels += [lab for _, lab in others[: n_probe - 1]]
        for lab in labels:
            qrows.append((int(row["vec_id"]), lab, *tbls))
    qschema = StructType(
        [
            StructField("query_id", LongType()),
            StructField(cluster_col, cell_field.dataType),
        ]
        + [
            StructField(f"__tbl{s}", ArrayType(LongType()))
            for s in range(len(books))
        ]
    )
    qdf = df.sparkSession.createDataFrame(qrows, qschema)
    adc = None
    for s in range(len(books)):
        lookup = F.element_at(
            F.col(f"__tbl{s}"), F.col("codes")[s] + F.lit(1)
        )
        adc = lookup if adc is None else adc + lookup
    scored = (
        codes.join(F.broadcast(qdf), on=cluster_col)
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc.cast("bigint").alias("adc"))
    )
    return _topk(scored, "adc", k, desc=False)

"""Degenerate inputs for the embedding-similarity family.

A row whose vector is NULL counts as absent — both as a corpus row and
as a query — so every operator must return on a NULL-bearing slice
exactly what it returns on that slice with the row removed. A vector
whose quantized norm is 0 has no cosine, so the cosine operators must
likewise return what they return without it. Empty and one-row inputs
must give typed results, never a crash."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lakehouse_hygiene_spark.operators import similarity as S

from .conftest import SF_ORACLE

OPS = {
    "cosine_topk": lambda df: S.cosine_topk(df, k=5),
    "cosine_pairs": lambda df: S.cosine_pairs(df, threshold=0.15),
    "lsh_ann": lambda df: S.lsh_ann(df),
    "ivf_ann": lambda df: S.ivf_ann(df),
    "lsh_near_dup": lambda df: S.lsh_near_dup_pairs(df, threshold=0.15),
    "lsh_near_dup_kernel": lambda df: S.lsh_near_dup_pairs(
        df, threshold=0.15
    ),
    "semantic_dedup": lambda df: S.semantic_dedup(df, threshold=0.15),
    "kmeans_fit_assign": lambda df: S.kmeans_fit_assign(df, k=4, n_iter=2),
    "kcenter_sample": lambda df: S.kcenter_sample(df, k=4),
    "pq_encode": lambda df: S.pq_encode(df),
    "pq_ann": lambda df: S.pq_ann(df),
    "ivfpq_ann": lambda df: S.ivfpq_ann(df),
}
# module constants an op pins: the forced k-means path of cosine_pairs
# and the Arrow-kernel plan of lsh_near_dup_pairs
PATCH = {
    "cosine_pairs": ("COSINE_SMALL_BYTES", 0),
    "lsh_near_dup_kernel": ("LSH_KERNEL_BYTES", 0),
}
# operators that return one row per input vector (or per selected center)
ONE_ROW_OPS = {"kmeans_fit_assign", "kcenter_sample", "pq_encode"}
# operators that score by cosine, where a zero-norm vector is absent
COSINE_OPS = {
    "cosine_topk", "cosine_pairs", "lsh_ann", "ivf_ann", "lsh_near_dup",
    "lsh_near_dup_kernel", "semantic_dedup",
}
NULL_ID = 1  # a query row (vec_id < 3) and a k-means / k-center init row
CASES = [
    (op, case)
    for op in sorted(OPS)
    for case in ("empty", "null_vector", "one_row")
] + [
    (op, case)
    for op in sorted(COSINE_OPS)
    for case in ("zero_norm", "tiny_copy")
]


def _rows(df):
    return sorted(
        tuple(tuple(x) if isinstance(x, list) else x for x in r)
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def emb_slice(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").where(
        F.col("vec_id") < 20
    )


@pytest.mark.parametrize("op,case", CASES)
def test_degenerate_inputs(emb_slice, monkeypatch, op, case):
    fn = OPS[op]
    if op in PATCH:
        monkeypatch.setattr(S, *PATCH[op])
    removed = emb_slice.where(F.col("vec_id") != NULL_ID)
    ref = fn(removed)
    if case in ("null_vector", "zero_norm", "tiny_copy"):
        vec_t = emb_slice.schema["embedding"].dataType
        # 6e-8 squared is 3.6e-15, below the 1e-12 unit: the quantized
        # norm is 0 while dots with ordinary vectors are not. tiny_copy
        # scales vec_id 0 by 6e-8, so it also shares vec_id 0's LSH
        # bucket and direction: a candidate everywhere vec_id 0 is.
        if case == "null_vector":
            bad = F.lit(None).cast(vec_t)
        elif case == "zero_norm":
            bad = F.transform("embedding", lambda x: F.lit(6e-8)).cast(vec_t)
        else:
            v0 = emb_slice.where(F.col("vec_id") == 0).first()["embedding"]
            bad = F.array(*[F.lit(6e-8 * x) for x in v0]).cast(vec_t)
        with_bad = emb_slice.withColumn(
            "embedding",
            F.when(F.col("vec_id") == NULL_ID, bad).otherwise(
                F.col("embedding")
            ),
        )
        want = _rows(ref)
        assert _rows(fn(with_bad)) == want and len(want) > 0
        return
    if case == "empty":
        out, n_want = fn(emb_slice.where(F.lit(False))), 0
    else:
        out = fn(emb_slice.where(F.col("vec_id") == 5))
        n_want = 1 if op in ONE_ROW_OPS else 0
    assert out.dtypes == ref.dtypes
    assert len(out.collect()) == n_want


def test_nearest_equals_difference_form_reference():
    """``_nearest``'s ||a||²+||c||²−2a·c expansion must return the same
    first-minimum index and squared distance as the plain Σ(x−y)²
    loop, ties (duplicate centroids) and negative components included,
    across more rows than one 2048-row chip."""
    import numpy as np

    rng = np.random.default_rng(7)
    X = rng.integers(-1_000_000, 1_000_001, size=(5000, 16), dtype=np.int64)
    C = rng.integers(-1_000_000, 1_000_001, size=(8, 16), dtype=np.int64)
    C[5] = C[2]  # tie: index 2 must win
    X[:40] = C[2]  # exact hits on the tied pair
    idx, dist = S._nearest(X, C)
    D = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    assert (idx == D.argmin(axis=1)).all() and (dist == D.min(axis=1)).all()
    assert (idx[:40] == 2).all() and (dist[:40] == 0).all()


def test_numpy_cosine_equals_integer_loop_reference():
    """``_qdot`` / ``_norm`` / ``_cosq`` / ``_norm_bucket`` must equal a
    pure-Python loop over the same IEEE products with exact integer
    sums: negative components, products that land exactly on .5 (the
    floor(p + 0.5) tie: -2.5 quantizes to -2), a zero-quantized-norm row
    (no norm, no cosine) and the 1024-wide plane-table dimension."""
    import math

    import numpy as np

    rng = np.random.default_rng(11)
    X = rng.uniform(-1.0, 1.0, size=(6, S._MAX_DIM))
    X[0, :8] = [0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 3.5, -3.5]
    X[1, :8] = 1e-12  # row 0 × row 1 products are exact ±k.5 ties
    X[2] = 6e-8  # squares quantize to 0: zero norm
    rows = [list(map(float, r)) for r in X]
    assert any((a * b * 1e12) % 1 == 0.5 and a < 0 for a, b in zip(*rows[:2]))

    def qdot(x, y):
        return sum(math.floor(a * b * 1e12 + 0.5) for a, b in zip(x, y))

    want_norm = []
    for r in rows:
        q = qdot(r, r)
        want_norm.append(math.sqrt(q / 1e12) if q else None)
    dots = S._qdot(X[:, None, :], X[None, :, :])
    nrm = S._norm(X)
    cos = S._cosq(dots, nrm[:, None], nrm[None, :])
    for i, a in enumerate(rows):
        if want_norm[i] is None:
            assert math.isnan(nrm[i])
        else:
            assert nrm[i] == want_norm[i]
        for j, b in enumerate(rows):
            d = qdot(a, b)
            assert dots[i, j] == d
            if want_norm[i] is None or want_norm[j] is None:
                assert math.isnan(cos[i, j])
                continue
            c = (d / 1e12) / (want_norm[i] * want_norm[j])
            assert cos[i, j] == math.floor(c * 1e6 + 0.5) / 1e6
    _, bucket = S._norm_bucket(X, S.N_PLANES)
    for i, r in enumerate(rows):
        want = sum(
            1 << p
            for p in range(S.N_PLANES)
            if qdot(r, S._plane_values(p)) > 0
        )
        assert bucket[i] == want

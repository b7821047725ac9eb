"""Degenerate inputs for the embedding-similarity family.

A row whose vector is NULL counts as absent — both as a corpus row and
as a query — so every operator must return on a NULL-bearing slice
exactly what it returns on that slice with the row removed. Empty and
one-row inputs must give typed results, never a crash."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lakehouse_hygiene_spark.operators import similarity as S

from .conftest import SF_ORACLE

OPS = {
    "cosine_topk": lambda df: S.cosine_topk(df, k=5),
    "cosine_pairs": lambda df: S.cosine_pairs(
        df, threshold=0.15, small_bytes=0
    ),
    "lsh_ann": lambda df: S.lsh_ann(df),
    "ivf_ann": lambda df: S.ivf_ann(df),
    "kmeans_fit_assign": lambda df: S.kmeans_fit_assign(df, k=4, n_iter=2),
    "kcenter_sample": lambda df: S.kcenter_sample(df, k=4),
    "pq_encode": lambda df: S.pq_encode(df),
    "pq_ann": lambda df: S.pq_ann(df),
    "ivfpq_ann": lambda df: S.ivfpq_ann(df),
}
# operators that return one row per input vector (or per selected center)
ONE_ROW_OPS = {"kmeans_fit_assign", "kcenter_sample", "pq_encode"}
NULL_ID = 1  # a query row (vec_id < 3) and a k-means / k-center init row


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


@pytest.mark.parametrize("case", ["null_vector", "empty", "one_row"])
@pytest.mark.parametrize("op", sorted(OPS))
def test_degenerate_inputs(emb_slice, op, case):
    fn = OPS[op]
    removed = emb_slice.where(F.col("vec_id") != NULL_ID)
    ref = fn(removed)
    if case == "null_vector":
        vec_t = emb_slice.schema["embedding"].dataType
        with_null = emb_slice.withColumn(
            "embedding",
            F.when(
                F.col("vec_id") == NULL_ID, F.lit(None).cast(vec_t)
            ).otherwise(F.col("embedding")),
        )
        want = _rows(ref)
        assert _rows(fn(with_null)) == want and len(want) > 0
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

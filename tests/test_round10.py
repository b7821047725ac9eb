"""Round-10 regression tests: the driver-canon output contracts
(rolling_agg DOUBLE sum, stringified array rows), the snapshot_diff
injection-safe digest, the media_near_dup s-top-bit MIH rebuild, the
shared-init PQ fit, and the heavy_hitters_stream type contract."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------- snapshot_diff digest


def test_snapshot_diff_separator_injection_safe(spark):
    """The r9 concat_ws digest collided ('a\\x1fb','c') with
    ('a','b\\x1fc') — same joined bytes. The to_json struct digest must
    report that changed row as changed."""
    from data_lakehouse_hygiene_spark.maintenance import snapshot_diff

    old = spark.createDataFrame([(1, "a\x1fb", "c")], ["k", "x", "y"])
    new = spark.createDataFrame([(1, "a", "b\x1fc")], ["k", "x", "y"])
    out = snapshot_diff(old, new, ["k"], ["x", "y"]).collect()
    assert [(r["k"], r["status"]) for r in out] == [(1, "changed")]


def test_snapshot_diff_null_sentinel_injection_safe(spark):
    """A literal string that spells the old NULL sentinel must not
    digest equal to an actual NULL."""
    from data_lakehouse_hygiene_spark.maintenance import snapshot_diff

    old = spark.createDataFrame([(1, "\x00null")], ["k", "x"])
    new = spark.createDataFrame(
        [(1, None)], "k bigint, x string"
    )
    out = snapshot_diff(old, new, ["k"], ["x"]).collect()
    assert [(r["k"], r["status"]) for r in out] == [(1, "changed")]


# ------------------------------------------------ rolling_agg DOUBLE sum


def test_rolling_agg_sum_window_is_double(spark):
    """Driver-canon contract: sum_window must emit as DOUBLE (pandas
    stringifies Decimal('10.00') != float 10.0), quantized at 2
    digits."""
    from data_lakehouse_hygiene_spark.operators.temporal import rolling_agg

    df = spark.createDataFrame(
        [(1, 7, "2024-01-01 00:00:00", 0.105)],
        ["event_id", "user_id", "ts", "value"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = rolling_agg(df)
    assert dict(out.dtypes)["sum_window"] == "double"
    row = out.collect()[0]
    # 0.105 casts to DECIMAL(18,2) = 0.11 (round half up), emits 0.11
    assert row["sum_window"] == pytest.approx(0.11)


# ------------------------------- declared rows: no list cells on the wire


def test_declared_array_rows_emit_strings(spark):
    """vocab_encode / pq_encode / bpe_encode registry rows must emit
    joined STRINGS for their sequence columns — the driver's pandas
    canon cannot factorize list cells (r9 crash)."""
    import __spark_entry__ as m
    from .conftest import SF_SMOKE

    qs = m.queries()
    for name, col in [
        ("vocab_encode", "ids"),
        ("pq_encode", "codes"),
        ("bpe_encode", "bpe_tokens"),
    ]:
        df = qs[name](spark, SF_SMOKE)
        assert dict(df.dtypes)[col] == "string", name


# ------------------------------------------------ media_near_dup MIH


def test_media_near_dup_s_growth_stays_exact(spark):
    """Forcing the n_assets sizing rule to grow s (fewer in-task low
    bits) must not change the pair set — brute-force equality on a
    planted cluster."""
    from data_lakehouse_hygiene_spark.operators.multimodal import (
        media_near_dup,
    )

    import itertools

    base = 0x5A5A_1234_ABCD_0F0F
    hashes = [base]
    for k in (0, 7, 15, 21, 40, 63):  # singles: hamming 1 from base
        hashes.append(base ^ (1 << k))
    hashes.append(base ^ 0b1111111)  # hamming 7
    hashes.append(base ^ ((1 << 13) - 1))  # hamming 13: out of radius
    def signed(h):  # wrap to int64 — exercises negative phash values
        return h - (1 << 64) if h >= (1 << 63) else h

    rows = [(i, "image/bmp", signed(h)) for i, h in enumerate(hashes)]
    fp = spark.createDataFrame(
        rows, "doc_id long, media_type string, phash long"
    )

    def brute(max_h):
        out = set()
        for (i, _, a), (j, _, b) in itertools.combinations(rows, 2):
            d = bin((a ^ b) & ((1 << 64) - 1)).count("1")
            if d <= max_h:
                out.add((min(i, j), max(i, j), d))
        return out

    expect = brute(7)
    got_default = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in media_near_dup(fp, max_hamming=7).collect()
    }
    # n_assets large enough to push s past 8 under the 500k/task rule
    got_grown = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in media_near_dup(
            fp, max_hamming=7, n_assets=60_000_000
        ).collect()
    }
    assert got_default == expect
    assert got_grown == expect


# ------------------------------------------------ PQ shared-init fit


def test_pq_fit_books_equals_per_subspace_fits(spark):
    """The shared-init fused fit must be bit-identical to m independent
    per-subspace Lloyd fits (``_kmeans_fit_local`` over the collected,
    vec_id-sorted subspace slices)."""
    import numpy as np

    from data_lakehouse_hygiene_spark.operators.cleaning import spread
    from data_lakehouse_hygiene_spark.operators.similarity import (
        _kmeans_fit_local,
        _kq,
        _pq_fit_books,
    )
    from .conftest import SF_SMOKE

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = spread(df, key="vec_id").select(
        "vec_id", _kq(F.col("embedding")).alias("qv")
    )
    m, sub, k, n_iter = 4, 16, 8, 2
    got = _pq_fit_books(q, m, k, n_iter)
    X = np.array(
        [r["qv"] for r in q.orderBy("vec_id").collect()], dtype=np.int64
    )
    ref = [
        _kmeans_fit_local(X[:, s * sub : (s + 1) * sub], k, n_iter).tolist()
        for s in range(m)
    ]
    assert got == ref


# ------------------------------------------- heavy_hitters_stream types


def test_heavy_hitters_stream_rejects_fractional_columns(spark):
    """String-keyed candidates can't round-trip double/decimal values
    exactly — the operator must refuse, not silently miscount."""
    from data_lakehouse_hygiene_spark.streaming import heavy_hitters_stream

    df = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(F.col("value").cast("double").alias("v"))
    )
    with pytest.raises(TypeError, match="fractional"):
        heavy_hitters_stream(df, col="v")


# -------------------------------------------- lsh_ann Arrow projection


def test_norm_bucket_kernel_equals_column_algebra(spark):
    """The vectorized (norm, bucket) Arrow kernel must be bit-identical
    to norms() + lsh_bucket() — same floor-quantized integer dots, same
    int64 sums, same sqrt chain — on vectors that stress sign
    boundaries and non-unit magnitudes."""
    import random

    from data_lakehouse_hygiene_spark.operators.similarity import (
        _norm_bucket_frame,
        lsh_bucket,
        norms,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(17)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    ref = norms(df).withColumn("bucket", lsh_bucket("embedding", 8))
    got = _norm_bucket_frame(df, "embedding", 8)
    a = {r["vec_id"]: (r["norm"], r["bucket"]) for r in ref.collect()}
    b = {r["vec_id"]: (r["norm"], r["bucket"]) for r in got.collect()}
    assert a == b


def test_norm_bucket_kernel_dim_guard(spark):
    """Vectors wider than the plane tables must fail loudly, matching
    lsh_bucket's assert_true contract."""
    from data_lakehouse_hygiene_spark.operators.similarity import (
        _MAX_DIM,
        _norm_bucket_frame,
    )

    df = spark.createDataFrame(
        [(1, [0.1] * (_MAX_DIM + 1))], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(Exception, match="dim guard|PythonException|exceeds"):
        _norm_bucket_frame(df, "embedding", 8).collect()


def test_cosine_topk_empty_queries_returns_typed_empty(spark):
    """A predicate matching no vectors must yield an empty frame with
    the contract schema, not a zero-query kernel crash."""
    from data_lakehouse_hygiene_spark.operators.similarity import cosine_topk
    from .conftest import SF_SMOKE

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    out = cosine_topk(df, query_pred=F.col("vec_id") < 0)
    assert out.count() == 0
    assert [f[0] for f in out.dtypes] == ["query_id", "vec_id", "cosine", "rank"]

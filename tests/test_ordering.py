"""The one range-bucketed global prefix (``ordering._range_prefix``) on a
NULL-bearing, tied first order column, against full-window truth: the two
global ranks and ``global_ntile`` against ``row_number`` / ``ntile``, and
``text.pack_sequences`` against a running token sum. Each input is big
enough to take the bucketed path (percentile cuts, NULL sentinel bucket,
in-plan offsets)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_lakehouse_hygiene_spark.operators import ordering, sampling
from data_lakehouse_hygiene_spark.operators import text as text_ops


@pytest.fixture(scope="module")
def keyed(spark):
    """20k rows: ``k`` has 50 values (ties) and is NULL on every 97th
    row; ``id`` breaks the ties."""
    return spark.range(20_000).select(
        "id",
        F.when(F.col("id") % 97 == 0, F.lit(None))
        .otherwise(F.pmod(F.xxhash64("id"), 50))
        .alias("k"),
    )


def _truth(df, fn, order, out):
    ranked = df.select("id", fn.over(Window.orderBy(*order)).alias(out))
    return {r["id"]: r[out] for r in ranked.collect()}


@pytest.mark.parametrize("asc", [True, False])
def test_sampling_global_rank_matches_row_number(spark, monkeypatch, keyed, asc):
    monkeypatch.setattr(sampling, "GR_BYTES_PER_BUCKET", 1 << 10)
    order = [F.col("k").asc() if asc else F.col("k").desc(), F.col("id").asc()]
    ranked = sampling.global_rank(keyed, order, n_parts=8, bucket_on=("k", asc))
    assert "__off" in ranked._jdf.queryExecution().optimizedPlan().toString()
    got = {r["id"]: r["rank"] for r in ranked.collect()}
    assert got == _truth(keyed, F.row_number(), order, "rank")


def test_ordering_global_rank_matches_row_number(spark, keyed):
    ranked, n = ordering.global_rank(keyed, "k", "id", rank_col="rn")
    assert n == 20_000
    assert "__off" in ranked._jdf.queryExecution().optimizedPlan().toString()
    got = {r["id"]: r["rn"] for r in ranked.collect()}
    assert got == _truth(keyed, F.row_number(), [F.asc("k"), F.asc("id")], "rn")


@pytest.mark.parametrize("n_tiles", [4, 7])
def test_global_ntile_matches_ntile(spark, keyed, n_tiles):
    tiled = ordering.global_ntile(keyed, n_tiles, "k", "id", tile_col="tile")
    got = {r["id"]: r["tile"] for r in tiled.collect()}
    want = _truth(keyed, F.ntile(n_tiles), [F.asc("k"), F.asc("id")], "tile")
    assert got == want


def test_pack_sequences_matches_running_sum(spark):
    """One NULL doc_id (it sorts first) and NULL texts (NULL token
    counts: a bin, no tokens) on 5k documents of 1-300 tokens."""
    docs = spark.range(5_000).select(
        F.when(F.col("id") == 7, F.lit(None))
        .otherwise(F.col("id"))
        .alias("doc_id"),
        F.when(F.col("id") % 53 == 0, F.lit(None))
        .otherwise(
            F.expr("array_join(array_repeat('w', cast(id % 300 AS INT) + 1), ' ')")
        )
        .alias("text"),
    )
    n_tok = F.size(F.split("text", " ")).cast("bigint")
    w = Window.orderBy(F.asc("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
    before = F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("bigint"))
    want = (
        docs.select("doc_id", n_tok.alias("n_tok"))
        .select(
            "doc_id",
            "n_tok",
            F.floor(before / F.lit(text_ops.PACK_BUDGET)).cast("bigint").alias("bin_id"),
        )
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )
    got = text_ops.pack_sequences(docs)
    assert "__off" in got._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

"""Round-12 review fixes (the group_heavy_hitters executor-memory cap
plus the coarse approx-distinct pre-gate) and the declarative zone gates
wired into the medallion pipeline."""
from __future__ import annotations

import tempfile

import pytest
import pyspark.sql.functions as F

from .conftest import SF_SMOKE


def _ghh_rows():
    rows = []
    for g in range(40):
        rows += [(f"g{g}", "hot")] * 12 + [
            (f"g{g}", f"v{i}") for i in range(7)
        ]
    return rows


# ------------------------------ group_heavy_hitters flush segments
def test_ghh_flush_segments_values_exact(spark, monkeypatch):
    """With the flush budget forced to 0 every Arrow batch becomes its
    own MG mini-partition (maximum segmentation) — the candidate set
    stays a superset, totals rows stay additive, and the recounted
    output must be byte-identical to the unflushed path AND to the
    plain-aggregate fallback."""
    from data_lakehouse_hygiene_spark.operators import aggregates

    df = spark.createDataFrame(
        _ghh_rows(), "g string, v string"
    ).repartition(8)
    want = [
        tuple(r)
        for r in aggregates.group_heavy_hitters(
            df, "g", "v", phi=0.3, max_sketch_groups=1
        ).collect()
    ]  # fallback truth
    unflushed = [
        tuple(r)
        for r in aggregates.group_heavy_hitters(df, "g", "v", phi=0.3).collect()
    ]
    monkeypatch.setattr(aggregates, "GHH_FLUSH_ENTRIES", 0)
    flushed = [
        tuple(r)
        for r in aggregates.group_heavy_hitters(df, "g", "v", phi=0.3).collect()
    ]
    assert flushed == unflushed == want
    assert {t[1] for t in flushed} == {"hot"} and len(flushed) == 40


# ----------------------------------- coarse pre-gate (no sketch pass)
def test_ghh_coarse_pregate_routes_to_fallback_without_sketch(
    spark, monkeypatch
):
    """When the size probe fires and approx G is clearly past the
    candidate budget, the operator must return the plain-aggregate plan
    WITHOUT ever building the mapInPandas sketch (the round-11 gate
    built, materialized, then discarded it). Values are unchanged."""
    from data_lakehouse_hygiene_spark.operators import aggregates

    df = spark.createDataFrame(_ghh_rows(), "g string, v string")
    monkeypatch.setattr(aggregates, "GHH_PREGATE_BYTES", 0)
    out = aggregates.group_heavy_hitters(
        df, "g", "v", phi=0.3, max_sketch_groups=0
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "__pn" not in plan  # no checkpointed sketch scan either
    got = [tuple(r) for r in out.collect()]
    monkeypatch.setattr(aggregates, "GHH_PREGATE_BYTES", 1 << 30)
    want = [
        tuple(r)
        for r in aggregates.group_heavy_hitters(df, "g", "v", phi=0.3).collect()
    ]
    assert got == want


def test_ghh_pregate_under_budget_still_sketches(spark, monkeypatch):
    """A probe that reads G comfortably UNDER budget must fall through
    to the sketch path (the pre-gate only short-circuits the clear
    blowups; borderline inputs keep the observed-candidate gate)."""
    from data_lakehouse_hygiene_spark.operators import aggregates

    df = spark.createDataFrame(_ghh_rows(), "g string, v string")
    monkeypatch.setattr(aggregates, "GHH_PREGATE_BYTES", 0)
    out = aggregates.group_heavy_hitters(df, "g", "v", phi=0.3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the sketch is localCheckpointed by the gate probe, so downstream
    # plans scan it as an ExistingRDD carrying the __pn side-row column
    # — that column exists ONLY on the sketch path
    assert "__pn" in plan
    assert {t[1] for t in (tuple(r) for r in out.collect())} == {"hot"}


# --------------------------------------- medallion zone gates (DQ)
def test_clean_zone_gate_aborts_on_violating_batch(spark):
    """A raw batch that violates a clean-zone expectation must abort the
    zone OVERWRITE with the expectation named — and the previous clean
    state must survive untouched (serving never reads a corrupt
    refresh)."""
    from data_lakehouse_hygiene_spark import pipeline, sinks
    from data_lakehouse_hygiene_spark.schemas import load_table

    with tempfile.TemporaryDirectory() as lake:
        pipeline.ingest(spark, SF_SMOKE, lake, "2026-01-01T00:00:00")
        pipeline.clean(spark, lake)
        before = sinks.read_table(spark, f"{lake}/clean/events").count()
        assert before > 0

        corrupt = load_table(spark, SF_SMOKE, "events").withColumn(
            "value", -F.abs(F.col("value")) - F.lit(1.0)
        )
        sinks.append_snapshot(
            corrupt, f"{lake}/raw/events", "2026-01-02T00:00:00"
        )
        with pytest.raises(pipeline.DataQualityError) as exc:
            pipeline.clean(spark, lake)
        assert "negative_value" in str(exc.value)
        assert f"{lake}/clean/events" in str(exc.value)

        # the previous clean zone is intact: same rows, no negatives
        after = sinks.read_table(spark, f"{lake}/clean/events")
        assert after.count() == before
        assert after.where(F.col("value") < 0).count() == 0


def test_clean_zone_gate_names_uniqueness_violation(spark):
    """A duplicate-key batch must abort with the uniqueness expectation
    named."""
    from data_lakehouse_hygiene_spark import pipeline, sinks
    from data_lakehouse_hygiene_spark.schemas import load_table

    with tempfile.TemporaryDirectory() as lake:
        pipeline.ingest(spark, SF_SMOKE, lake, "2026-01-01T00:00:00")
        ev = load_table(spark, SF_SMOKE, "events")
        sinks.append_snapshot(
            ev.unionByName(ev.limit(5)),
            f"{lake}/raw/events",
            "2026-01-02T00:00:00",
        )
        with pytest.raises(pipeline.DataQualityError) as exc:
            pipeline.clean(spark, lake)
        assert "unique(event_id)" in str(exc.value)


def test_enforce_zone_empty_input_and_pass_through(spark):
    """require_rows trips on an empty frame; a clean frame passes
    through unchanged (same object, gate adds no plan nodes)."""
    from data_lakehouse_hygiene_spark import pipeline

    df = spark.createDataFrame([(1, 10.0)], "event_id long, value double")
    assert pipeline.enforce_zone(df, "z") is df
    empty = df.where(F.lit(False))
    with pytest.raises(pipeline.DataQualityError) as exc:
        pipeline.enforce_zone(empty, "z")
    assert "non_empty" in str(exc.value)


def test_pipeline_green_run_still_passes_gates(spark):
    """The driver testdata satisfies every default expectation — the
    gated pipeline runs end-to-end unchanged."""
    from data_lakehouse_hygiene_spark import pipeline

    with tempfile.TemporaryDirectory() as lake:
        result = pipeline.run_pipeline(
            spark, SF_SMOKE, lake, ingest_ts="2026-01-01T00:00:00"
        )
        assert len(result.collect()) == 1


# ----------------------------- fifth-decade MIH geometry (plan-pinned)
def test_mih_sub_bit_geometry_grows_past_ten_million(spark):
    """The SCALING.md geometry contract, pinned from the PLAN (no jobs
    run — the key-emit array holds n_bands*(1+s) band structs): at 10M
    fingerprints both MIH twins must leave the s=4 floor (s=7 at 10M by
    the 500k-rows-per-task target), while small corpora stay on the
    floor. Executed at full scale in tools/mih_fifth_decade.py
    (SCALING.md fifth decade: 181/206 s, identical 203,152-pair sets)."""
    import re

    from data_lakehouse_hygiene_spark.operators import dedup, multimodal

    from .test_round11 import _planted_simhash_agg

    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    fp = spark.createDataFrame(
        [(1, "image/bmp", 123)], "doc_id long, media_type string, phash long"
    )
    agg = _planted_simhash_agg(spark, {1: 123})

    def s_of(df):
        plan = df._jdf.queryExecution().analyzed().toString()
        return len(re.findall(r"struct\(band", plan)) // 4 - 1

    assert s_of(
        multimodal.media_near_dup(fp, max_hamming=7, n_assets=10_000_000)
    ) == 7
    assert s_of(
        multimodal.media_near_dup(fp, max_hamming=7, n_assets=30_000)
    ) == 4
    lanes = dedup._swar_lanes(agg, ("sh_lo", "sh_hi"))
    assert s_of(
        dedup.mih_pairs(lanes, 4, max_hamming=7, n_docs=10_000_000)
    ) == 7
    assert s_of(
        dedup.mih_pairs(lanes, 4, max_hamming=7, n_docs=30_000)
    ) == 4


# ------------------------- cosine_pairs planned-shuffle refusal gate
def test_cosine_pairs_planned_shuffle_refusal(spark, tmp_path, monkeypatch):
    """The round-12 sf100 finding test-pinned: when the block pruner
    keeps so many pairs that the planned cogroup replication exceeds the
    shuffle budget, cosine_pairs must REFUSE with the sub-quadratic
    alternatives named — before any pair task launches. (The input-bytes
    gate alone let a 500 MB corpus plan ~140 GB of shuffle and fill the
    local disk mid-stage.)"""
    import pytest as _pytest

    from data_lakehouse_hygiene_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "emb")
    emb.write.parquet(path)  # file-backed so _estimated_bytes > 0
    df = spark.read.parquet(path)
    monkeypatch.setattr(similarity, "COSINE_SMALL_BYTES", 0)
    with monkeypatch.context() as mp:
        mp.setattr(similarity, "COSINE_SHUFFLE_MAX_BYTES", 0)
        with _pytest.raises(ValueError) as exc:
            similarity.cosine_pairs(df).collect()
    msg = str(exc.value)
    assert "planned replicated shuffle" in msg
    assert "lsh_near_dup" in msg and "semantic_dedup" in msg
    # an adequate budget on the same input runs the normal exact path
    got = similarity.cosine_pairs(df).limit(5).collect()
    assert got is not None


def test_semantic_dedup_granularity_guard(spark, monkeypatch):
    """A cluster column too coarse for the corpus must refuse with the
    exact pair term and the re-clustering knob named (the sf100
    10-label corpus planned ~2e11 pairs); adequate granularity passes
    through to the normal plan."""
    import pytest as _pytest

    from data_lakehouse_hygiene_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    monkeypatch.setattr(similarity, "SEMANTIC_PROBE_BYTES", 0)
    with monkeypatch.context() as mp:
        mp.setattr(similarity, "SEMANTIC_DEDUP_MAX_PAIRS", 10)
        with _pytest.raises(ValueError) as exc:
            similarity.semantic_dedup(emb)
    msg = str(exc.value)
    assert "too coarse" in msg and "kmeans_assign" in msg
    # default budget: same rows as the unguarded semantics
    got = {
        tuple(r)
        for r in similarity.semantic_dedup(emb).collect()
    }
    assert len(got) == 2  # the pinned sf0.01 SemDeDup drop list size


# ----------------------------- lsh_near_dup size-gated kernel parity
def test_lsh_pairs_kernel_equals_join_plan(spark):
    """The corpus-scale Arrow kernel must produce EXACTLY the
    expression-join plan's pair set and cosine bits — including the
    zero-vector corner (NaN cosines are excluded by BOTH plans) and the
    set-bit single-orientation transport (no pair found twice)."""
    import numpy as np

    from data_lakehouse_hygiene_spark.operators import similarity as S
    from data_lakehouse_hygiene_spark.operators.cleaning import spread

    rng = np.random.default_rng(7)
    base = rng.normal(size=(200, 16)).astype("float32")
    rows = [(i, [float(x) for x in base[i]], 0) for i in range(200)]
    rows += [
        (
            1000 + i,
            [
                float(x)
                for x in base[i]
                + rng.normal(scale=0.01, size=16).astype("float32")
            ],
            0,
        )
        for i in range(40)
    ]
    rows.append((2000, [0.0] * 16, 0))  # zero vector: NaN cosine corner
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    for planes in (4, 8):
        join_plan = {
            tuple(r)
            for r in S.lsh_near_dup_pairs(df, n_planes=planes).collect()
        }
        kernel = {
            tuple(r)
            for r in S._lsh_pairs_kernel(
                spread(df, key="vec_id"), "embedding", 0.45, planes
            ).collect()
        }
        assert join_plan == kernel, planes
        # exactly-once: no duplicate (a, b) rows out of the kernel
        ab = [
            (r.vec_a, r.vec_b)
            for r in S._lsh_pairs_kernel(
                spread(df, key="vec_id"), "embedding", 0.45, planes
            ).collect()
        ]
        assert len(ab) == len(set(ab))


def test_heavy_hitters_collect_gate_sees_shuffle_fanout(spark):
    """The collect-gate partition bound must include the session
    shuffle fan-out (round-11 review: shuffle-output inputs have
    spark.sql.shuffle.partitions tasks regardless of byte size). With a
    fan-out large enough that (c+1)·n_parts exceeds HH_COLLECT_MAX, the
    operator must take the distributed path — and values must be
    unchanged."""
    from data_lakehouse_hygiene_spark.operators import aggregates

    rows = [("hot",)] * 60 + [(f"v{i}",) for i in range(30)]
    df = spark.createDataFrame(rows, "token string")
    want = [
        tuple(r)
        for r in aggregates.heavy_hitters(df, "token", phi=0.3).collect()
    ]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(aggregates.HH_COLLECT_MAX),  # (c+1)*n_parts >> gate
    )
    try:
        got = [
            tuple(r)
            for r in aggregates.heavy_hitters(df, "token", phi=0.3).collect()
        ]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert got == want
    assert [t[0] for t in got] == ["hot"]

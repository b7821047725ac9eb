"""Round-13 pins: the three round-12 ADVICE fixes.

1. cosine_pairs' planned-shuffle gate counts SELF block pairs at
   2*m_i (the cogroup explodes block i onto BOTH sides of pid i*p+i),
   so the gate can no longer under-estimate by up to 2x on
   self-pair-dominated plans.
2. lsh kernel _score orders with np.lexsort, not int32_kind * (1<<62)
   (NumPy >= 2.0 / NEP 50 raises OverflowError on that product); pinned
   by kernel-vs-join parity on vec_ids ABOVE int32 range.
3. dq_check coalesces violation sums to 0 so an EMPTY input fails only
   the non_empty expectation, never the value rules.
"""

import pytest


# ------------- ADVICE 1: self pairs counted twice in the shuffle gate
def test_cosine_gate_counts_self_pairs_twice(spark, tmp_path, monkeypatch):
    """One cluster => the only kept block pair is the self pair (0,0).
    The cogroup ships every member row to BOTH exploded sides, so the
    planned volume is 2*n*row_bytes; a budget between 1x and 2x must
    REFUSE (the pre-fix m_i-once count would have launched)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "emb")
    emb.write.parquet(path)  # file-backed so _estimated_bytes > 0
    df = spark.read.parquet(path)

    n, dim = 500, 64
    row_bytes = dim * 8 + 32  # matches the gate's row-size model
    between = int(1.5 * n * row_bytes)  # > 1x, < 2x planned volume

    from data_lakehouse_hygiene_spark.operators import similarity

    want = {tuple(r) for r in similarity.cosine_pairs(emb).collect()}
    # one k-means block on the forced cluster path
    monkeypatch.setattr(similarity, "N_BLOCKS", 1)
    monkeypatch.setattr(similarity, "KMEANS_MAX_BLOCKS", 1)
    monkeypatch.setattr(similarity, "COSINE_SMALL_BYTES", 0)
    monkeypatch.setattr(similarity, "COSINE_SHUFFLE_MAX_BYTES", between)
    with pytest.raises(ValueError) as exc:
        similarity.cosine_pairs(df).collect()
    assert "planned replicated shuffle" in str(exc.value)

    # a budget ABOVE 2x the self-pair volume runs the exact path and
    # the result is blocking-invariant (equals the default small path)
    monkeypatch.setattr(
        similarity, "COSINE_SHUFFLE_MAX_BYTES", int(3.0 * n * row_bytes)
    )
    got = {tuple(r) for r in similarity.cosine_pairs(df).collect()}
    assert got == want


# ------------- ADVICE 2: lexsort ordering, pinned with int64-range ids
def test_lsh_kernel_lexsort_handles_int64_ids(spark):
    """The kernel's echelon sort must not depend on fitting
    kind*(1<<62)+vec_id into the kind column's int32 dtype: vec_ids
    beyond int32 range must produce exactly the join plan's pair set."""
    import numpy as np

    from data_lakehouse_hygiene_spark.operators import similarity as S
    from data_lakehouse_hygiene_spark.operators.cleaning import spread

    rng = np.random.default_rng(13)
    base = rng.normal(size=(60, 16)).astype("float32")
    big = 1 << 33  # above int32 range
    rows = [(big + i, [float(x) for x in base[i]], 0) for i in range(60)]
    rows += [
        (
            big + 1000 + i,
            [
                float(x)
                for x in base[i]
                + rng.normal(scale=0.01, size=16).astype("float32")
            ],
            0,
        )
        for i in range(15)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    join_plan = {
        tuple(r) for r in S.lsh_near_dup_pairs(df, n_planes=6).collect()
    }
    kernel = {
        tuple(r)
        for r in S._lsh_pairs_kernel(
            spread(df, key="vec_id"), "embedding", 0.45, 6
        ).collect()
    }
    assert join_plan == kernel
    assert len(kernel) >= 15  # the planted near-dup pairs were found


# ------------- ADVICE 3: dq_check on an empty input
def test_dq_check_empty_input_passes_value_rules(spark):
    from pyspark.sql import functions as F

    from data_lakehouse_hygiene_spark import maintenance

    empty = spark.createDataFrame([], "ts timestamp, value double")
    report = maintenance.dq_check(
        empty,
        [("null_ts", F.col("ts").isNull()), ("neg", F.col("value") < 0)],
    ).collect()
    assert len(report) == 2
    for r in report:
        assert r["n_rows"] == 0
        assert r["n_violations"] == 0
        assert r["pass"] is True


def test_enforce_zone_empty_input_fails_only_non_empty(spark):
    from pyspark.sql import functions as F

    from data_lakehouse_hygiene_spark import pipeline

    empty = spark.createDataFrame([], "ts timestamp, value double")
    with pytest.raises(pipeline.DataQualityError) as exc:
        pipeline.enforce_zone(
            empty,
            "clean",
            rules=[
                ("null_ts", F.col("ts").isNull()),
                ("neg", F.col("value") < 0),
            ],
        )
    msg = str(exc.value)
    assert "non_empty" in msg
    assert "null_ts" not in msg and "neg" not in msg


# ===== range_join / gap_fill planned-explode refusal (round-13 item 1)
def test_range_join_refuses_on_planted_sentinel_interval(
    spark, monkeypatch
):
    """One corrupt open-ended interval (9999-12-31 sentinel end_ts)
    plans ~70M exploded rows from ONE input row at the default bucket —
    the probe must compute that planned term and refuse naming
    bucket_seconds; sane intervals under the budget run unchanged."""
    from data_lakehouse_hygiene_spark.operators import temporal

    intervals = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", "2024-01-01 06:00:00", "a"),
            (1, "2024-01-02 00:00:00", "9999-12-31 00:00:00", "corrupt"),
        ],
        "k int, start_ts string, end_ts string, tag string",
    ).selectExpr(
        "k",
        "cast(start_ts as timestamp) start_ts",
        "cast(end_ts as timestamp) end_ts",
        "tag",
    )
    events = spark.createDataFrame(
        [(1, "2024-01-01 03:00:00"), (1, "2024-01-03 00:00:00")],
        "k int, ts string",
    ).selectExpr("k", "cast(ts as timestamp) ts")

    monkeypatch.setattr(temporal, "RANGE_PROBE_BYTES", -1)
    with pytest.raises(ValueError) as exc:
        temporal.range_join(
            events,
            intervals,
            key="k",
            ts="ts",
            max_explode_rows=1_000_000,
        )
    msg = str(exc.value)
    assert "planned interval explosion" in msg
    assert "bucket_seconds" in msg and "max_explode_rows" in msg

    # sane intervals: probe fires, stays under budget, result correct
    sane = intervals.where("tag = 'a'")
    got = {
        (r.k, str(r.ts), r.tag)
        for r in temporal.range_join(
            events, sane, key="k", ts="ts", max_explode_rows=1_000_000
        ).collect()
    }
    assert got == {(1, "2024-01-01 03:00:00", "a")}


def test_range_join_no_probe_job_below_floor(spark):
    """At oracle scale (input under RANGE_PROBE_BYTES) constructing the
    join must launch NO job — the gate is planning-time only."""
    from data_lakehouse_hygiene_spark.operators import temporal

    intervals = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 06:00:00")],
        "k int, start_ts string, end_ts string",
    ).selectExpr(
        "k",
        "cast(start_ts as timestamp) start_ts",
        "cast(end_ts as timestamp) end_ts",
    )
    events = spark.createDataFrame(
        [(1, "2024-01-01 03:00:00")], "k int, ts string"
    ).selectExpr("k", "cast(ts as timestamp) ts")
    sc = spark.sparkContext
    sc.setJobGroup("r13_range_probe", "no-job assertion")
    try:
        out = temporal.range_join(events, intervals, key="k", ts="ts")
        assert (
            list(sc.statusTracker().getJobIdsForGroup("r13_range_probe"))
            == []
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out.count() == 1  # and the plan still evaluates


def test_gap_fill_refuses_on_planted_epoch_zero_ts(spark, monkeypatch):
    """One epoch-0 corrupt timestamp in a key plans a ~490k-row hourly
    spine for that key — the probe must compute the exact planned spine
    term and refuse naming bucket_interval; sane input runs unchanged."""
    from pyspark.sql import functions as F

    from data_lakehouse_hygiene_spark.operators import temporal

    rows = [(1, "2024-01-01 00:00:00", 1.0), (1, "2024-01-01 05:00:00", 2.0)]
    corrupt = rows + [(1, "1970-01-01 00:00:00", 0.0)]
    mk = lambda rs: spark.createDataFrame(
        rs, "k int, ts string, v double"
    ).selectExpr("k", "cast(ts as timestamp) ts", "v")

    monkeypatch.setattr(temporal, "GAP_PROBE_BYTES", -1)
    with pytest.raises(ValueError) as exc:
        temporal.gap_fill(
            mk(corrupt),
            key="k",
            ts="ts",
            value_agg=F.avg("v"),
            max_spine_rows=10_000,
        )
    msg = str(exc.value)
    assert "planned spine" in msg
    assert "bucket_interval" in msg and "max_spine_rows" in msg

    got = {
        (r.k, str(r.bucket), r.n, r.filled)
        for r in temporal.gap_fill(
            mk(rows),
            key="k",
            ts="ts",
            value_agg=F.avg("v"),
            max_spine_rows=10_000,
        ).collect()
    }
    assert len(got) == 6  # hourly spine 00..05
    assert (1, "2024-01-01 03:00:00", 0, 1.0) in got  # LOCF gap row


def test_gap_fill_no_probe_job_below_floor(spark):
    from pyspark.sql import functions as F

    from data_lakehouse_hygiene_spark.operators import temporal

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0)], "k int, ts string, v double"
    ).selectExpr("k", "cast(ts as timestamp) ts", "v")
    sc = spark.sparkContext
    sc.setJobGroup("r13_gap_probe", "no-job assertion")
    try:
        out = temporal.gap_fill(df, key="k", ts="ts", value_agg=F.avg("v"))
        assert (
            list(sc.statusTracker().getJobIdsForGroup("r13_gap_probe"))
            == []
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out.count() == 1


def test_gap_fill_month_interval_probe_overestimates(spark, monkeypatch):
    """Calendar intervals resolve against the 1999-02-01 anchor (28-day
    month), so the planned count is an over-estimate — a 12-month span
    must read ≥ 13 planned rows, never fewer (the gate cannot
    under-count)."""
    from pyspark.sql import functions as F

    from data_lakehouse_hygiene_spark.operators import temporal

    df = spark.createDataFrame(
        [(1, "2023-01-15 00:00:00", 1.0), (1, "2024-01-15 00:00:00", 2.0)],
        "k int, ts string, v double",
    ).selectExpr("k", "cast(ts as timestamp) ts", "v")
    monkeypatch.setattr(temporal, "GAP_PROBE_BYTES", -1)
    # budget 12 (< true 13 monthly buckets): the over-estimating probe
    # must refuse — proving it never under-counts a calendar span
    with pytest.raises(ValueError):
        temporal.gap_fill(
            df,
            key="k",
            ts="ts",
            value_agg=F.avg("v"),
            bucket="month",
            bucket_interval="INTERVAL 1 MONTH",
            max_spine_rows=12,
        )
    # a generous budget passes through and yields the exact 13 buckets
    out = temporal.gap_fill(
        df,
        key="k",
        ts="ts",
        value_agg=F.avg("v"),
        bucket="month",
        bucket_interval="INTERVAL 1 MONTH",
        max_spine_rows=1_000,
    )
    assert out.count() == 13


# ============ streaming zone gates (round-13 item 5: VERDICT agenda)
def test_gated_zone_stream_aborts_violating_batch_keeps_prior(
    spark, tmp_path
):
    """A violating micro-batch must fail the streaming query with the
    expectation named, BEFORE its append lands — and every previously
    committed batch must survive in the zone directory."""
    import datetime as dt

    from pyspark.sql import functions as F

    from data_lakehouse_hygiene_spark import pipeline, streaming

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp_ntz, value double"
    good = [(1, t0, 5.0), (2, t0, 7.0)]
    bad = [(3, t0, -4.0), (4, None, 1.0)]  # violates BOTH rules
    src = str(tmp_path / "src")
    zone = str(tmp_path / "clean")
    spark.createDataFrame(good, schema).coalesce(1).write.parquet(
        src + "/f1"
    )
    spark.createDataFrame(bad, schema).coalesce(1).write.parquet(
        src + "/f2"
    )
    rules = [
        ("null_ts", F.col("ts").isNull()),
        ("negative_value", F.col("value") < 0),
    ]

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/f*")
        )
        streaming.gated_zone_stream(
            stream,
            "clean",
            zone,
            rules=rules,
            checkpoint=str(tmp_path / "ckpt"),
        )

    with pytest.raises(Exception) as exc:
        start()
    msg = str(exc.value)
    assert "null_ts" in msg and "negative_value" in msg
    assert "clean" in msg and "DataQualityError" in msg

    # prior state survives: batch 1 landed before the abort, batch 2
    # never landed (half-written state is impossible: the gate runs
    # before the append)
    landed = spark.read.parquet(zone)
    assert {r.event_id for r in landed.collect()} == {1, 2}

    # the sane-only stream lands everything through the same gate
    zone2 = str(tmp_path / "clean2")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/f1")
    )
    streaming.gated_zone_stream(
        stream,
        "clean",
        zone2,
        rules=rules,
        checkpoint=str(tmp_path / "ckpt2"),
    )
    assert spark.read.parquet(zone2).count() == 2


# ====== lsh kernel recall spec (round-13 item 7, TUNING.md table pin)
def test_lsh_kernel_recall_bounds_on_planted_pairs(spark):
    """The kernel arm's recall@0.85 against planted ground truth must
    hold the TUNING.md round-13 spec shape: ~0.9 at the 8-plane floor,
    dropping with plane count (the documented recall knob). Seeded, so
    drift means the bucket/probe semantics changed — re-measure the
    full table in tools/ab_lsh_kernel.py before touching the bounds."""
    import numpy as np

    from data_lakehouse_hygiene_spark.operators import similarity as S
    from data_lakehouse_hygiene_spark.operators.cleaning import spread

    rng = np.random.default_rng(1303)
    n_base, n_plant, dim, t = 20000, 1000, 64, 0.85
    base = rng.normal(size=(n_base, dim))
    plant = base[:n_plant] + rng.normal(scale=0.18, size=(n_plant, dim))
    cos = (base[:n_plant] * plant).sum(1) / (
        np.linalg.norm(base[:n_plant], axis=1)
        * np.linalg.norm(plant, axis=1)
    )
    truth = {
        (i, 1_000_000_000 + i) for i in range(n_plant) if cos[i] >= t + 1e-4
    }
    assert len(truth) > 900  # noise scale keeps ~all planted pairs over t

    import pandas as pd

    pdf = pd.DataFrame(
        {
            "vec_id": np.concatenate(
                [
                    np.arange(n_base, dtype=np.int64),
                    1_000_000_000 + np.arange(n_plant, dtype=np.int64),
                ]
            ),
            "embedding": [
                r.astype(np.float32) for r in np.vstack([base, plant])
            ],
        }
    )
    df = spread(spark.createDataFrame(pdf), key="vec_id")

    def recall(planes):
        pairs = {
            (r.vec_a, r.vec_b)
            for r in S._lsh_pairs_kernel(
                df, "embedding", t, planes
            ).collect()
        }
        return len(pairs & truth) / len(truth)

    r8, r15 = recall(8), recall(15)
    assert r8 >= 0.88  # measured 0.917 at this seed/scale
    assert r15 >= 0.70  # measured 0.768
    assert r8 > r15  # planes are the recall knob, monotone down


# ====== MIH planned-compare refusal (round-13 sixth-decade finding)
def test_media_mih_gate_refuses_mass_dup_histogram(spark, monkeypatch):
    """A mass-duplicate fingerprint corpus concentrates the band-bucket
    histogram: ONE phash value with c assets plans c(c-1)/2 compares per
    band from a single bucket. The probe must compute that exact term
    from the bounded histogram collect and refuse over budget; the
    default budget runs the same corpus unchanged."""
    from data_lakehouse_hygiene_spark.operators import dedup, multimodal

    rows = [(i, "image/bmp", 0x0123456789ABCDEF) for i in range(200)]
    fp = spark.createDataFrame(
        rows, "doc_id long, media_type string, phash long"
    )
    monkeypatch.setattr(dedup, "MIH_PROBE_MIN_DOCS", 0)
    with pytest.raises(ValueError) as exc:
        multimodal.media_near_dup(
            fp, max_hamming=7, n_assets=25_000, max_compares=10_000
        )
    msg = str(exc.value)
    assert "planned MIH compare volume" in msg
    assert "Exact-dedup identical phash" in msg
    # exact term: 4 bands x C(200,2) single-bucket triangles
    assert "7.96e+04" in msg

    got = multimodal.media_near_dup(fp, max_hamming=7, n_assets=25_000)
    assert got.count() == 200 * 199 // 2  # all-pairs at hamming 0


def test_media_mih_gate_no_probe_job_below_floor(spark):
    from data_lakehouse_hygiene_spark.operators import multimodal

    rows = [
        (i, "image/bmp", (i * 0x9E3779B97F4A7C15) % (1 << 62))
        for i in range(50)
    ]
    fp = spark.createDataFrame(
        rows, "doc_id long, media_type string, phash long"
    )
    sc = spark.sparkContext
    sc.setJobGroup("r13_mih_probe", "no-job assertion")
    try:
        out = multimodal.media_near_dup(fp, max_hamming=7, n_assets=25_000)
        assert (
            list(sc.statusTracker().getJobIdsForGroup("r13_mih_probe"))
            == []
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out.count() >= 0


def test_simhash_mih_gate_refuses_mass_dup_corpus(spark, monkeypatch):
    """The text twin's identical gate, exercised through
    simhash_near_dup_pairs: identical documents share a signature, so
    the per-band histogram is one bucket of c docs — the probe refuses
    over budget, and the default budget mines the same corpus."""
    from data_lakehouse_hygiene_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "the same exact document body for everyone") for i in range(100)],
        "doc_id long, text string",
    )
    monkeypatch.setattr(dedup, "SIMHASH_MIH_BYTES", 0)
    monkeypatch.setattr(dedup, "MIH_PROBE_MIN_DOCS", 0)
    monkeypatch.setattr(dedup, "MIH_MAX_COMPARES", 10_000)
    with pytest.raises(ValueError) as exc:
        dedup.simhash_near_dup_pairs(docs, max_hamming=7)
    msg = str(exc.value)
    assert "simhash MIH planned compare volume" in msg
    assert "Exact-dedup identical signatures" in msg

    monkeypatch.setattr(dedup, "MIH_MAX_COMPARES", 1e12)
    got = dedup.simhash_near_dup_pairs(docs, max_hamming=7)
    assert got.count() == 100 * 99 // 2


def test_mih_planned_compares_matches_brute_force():
    """The histogram term must equal a brute-force count of the three
    kernel loops on a random small-width geometry."""
    import numpy as np

    from data_lakehouse_hygiene_spark.operators.dedup import (
        _mih_planned_compares,
    )

    rng = np.random.default_rng(13)
    width, s = 6, 2
    low = width - s
    c = rng.integers(0, 5, size=1 << width).astype(np.float64)
    want = float((c * np.maximum(c - 1, 0)).sum() / 2)  # triangles
    for u in range(1 << width):
        # exact x variant: variants land in u from set-bit origins
        for i in range(low, width):
            if not (u >> i) & 1:
                want += c[u] * c[u ^ (1 << i)]
        # low-bit neighbors, evaluated once (v < v^bit)
        for t in range(low):
            if not (u >> t) & 1:
                want += c[u] * c[u ^ (1 << t)]
    got = _mih_planned_compares(c, width, s)
    assert got == want


# ====== simhash128 family (round-13: the band-collision remedy)
def test_simhash128_twin_plans_equal_brute_force(spark):
    """Both plan shapes (8×16 exact-band small plan, 4×32 MIH kernel)
    must equal the NumPy brute-force all-pairs definition over the
    four packed halves, and the halves must match the bit string."""
    import numpy as np

    from data_lakehouse_hygiene_spark.operators import dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "text")

    sig = dedup.simhash128_signatures(docs)
    rows = sig.collect()
    assert len(rows[0]["simhash_bits"]) == 128
    r0 = rows[0]
    for i in range(4):
        val = sum(
            1 << j for j in range(32) if r0["simhash_bits"][32 * i + j] == "1"
        )
        assert val == r0[f"sh_{i}"]

    H = np.array(
        [[r[f"sh_{i}"] for i in range(4)] for r in rows], dtype=np.uint64
    )
    ids = np.array([r["doc_id"] for r in rows])
    want = set()
    for a in range(len(ids)):
        ham = dedup._np_pop64(H[a] ^ H).sum(axis=1)
        for bi in np.nonzero(ham <= 7)[0]:
            if ids[a] < ids[bi]:
                want.add((int(ids[a]), int(ids[bi]), int(ham[bi])))
    assert len(want) > 0  # the fixture's planted near-dups survive 128b

    small = {tuple(r) for r in dedup.simhash128_near_dup_pairs(docs).collect()}
    assert small == want
    mih = {
        tuple(r)
        for r in dedup.mih_pairs(
            dedup._swar_lanes(
                dedup._simhash_agg(docs, "text", 2),
                ("sh_0", "sh_1", "sh_2", "sh_3"),
            ),
            4,
            7,
            n_docs=len(ids),
        ).collect()
    }
    assert mih == want


def test_simhash128_tighter_than_64_bit_at_same_radius(spark):
    """128-bit h≤7 is a strictly tighter similarity contract than
    64-bit h≤7 on the same corpus: its pair set must be a subset (the
    fixture: 11 of 25)."""
    from data_lakehouse_hygiene_spark.operators import dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "text")
    p128 = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash128_near_dup_pairs(docs).collect()
    }
    p64 = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_near_dup_pairs(docs).collect()
    }
    assert p128 and p128 < p64


def test_simhash128_public_gate_routes_to_mih(spark, monkeypatch):
    """Through the public API: forcing the size gate must route to the
    4×32 MIH kernel (Python stage present) with the identical pair set
    as the oracle-shaped exact-band plan."""
    from data_lakehouse_hygiene_spark.operators import dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "text")
    small = {
        tuple(r) for r in dedup.simhash128_near_dup_pairs(docs).collect()
    }
    monkeypatch.setattr(dedup, "SIMHASH_MIH_BYTES", 0)
    out = dedup.simhash128_near_dup_pairs(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan or "mapInPandas" in plan.lower()
    assert {tuple(r) for r in out.collect()} == small

"""Round-14 pins: driver-advice fixes (range_join reversed-interval
probe, probe-on-custom-budget floors, simhash128 concentration gate,
idempotent streaming zone landing) and the public-contract ValueError
sweep."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


# ------------------- range_join: reversed (corrupt) intervals are COUNTED
def test_range_join_gate_counts_reversed_intervals(spark):
    """sequence(a, b) steps -1 when a > b, so an end_ts < start_ts
    sentinel still explodes |diff|+1 rows; the probe must count it with
    ABS (a signed sum under-counts AND cancels genuine explosion)."""
    from data_lakehouse_hygiene_spark.operators import temporal

    t0 = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [(1, t0)], "k int, ts timestamp"
    )
    # one corrupt REVERSED interval: starts 2024, "ends" at epoch 0 —
    # ~473k hourly buckets in the NEGATIVE direction
    corrupt = spark.createDataFrame(
        [(1, t0, dt.datetime(1970, 1, 1))],
        "k int, start_ts timestamp, end_ts timestamp",
    )
    with pytest.raises(ValueError) as exc:
        temporal.range_join(
            events,
            corrupt,
            key="k",
            ts="ts",
            max_explode_rows=1_000,
        ).collect()
    assert "planned interval explosion" in str(exc.value)


def test_range_join_custom_budget_probes_below_floor(spark):
    """A sub-floor (tiny) interval table with an explicit
    max_explode_rows must still get the probe — the floor is a
    probe-cost trade-off that only applies to the DEFAULT budget."""
    from data_lakehouse_hygiene_spark.operators import temporal

    t0 = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame([(1, t0)], "k int, ts timestamp")
    sentinel = spark.createDataFrame(
        [(1, t0, dt.datetime(9999, 12, 31))],
        "k int, start_ts timestamp, end_ts timestamp",
    )
    # input is a few hundred bytes — far under RANGE_PROBE_BYTES — yet
    # the explicit budget must trigger the probe and refuse
    with pytest.raises(ValueError):
        temporal.range_join(
            events, sentinel, key="k", ts="ts", max_explode_rows=1_000
        ).collect()
    # sane intervals under the same explicit budget pass
    sane = spark.createDataFrame(
        [(1, t0, t0 + dt.timedelta(hours=2))],
        "k int, start_ts timestamp, end_ts timestamp",
    )
    out = temporal.range_join(
        events, sane, key="k", ts="ts", max_explode_rows=1_000
    )
    assert out.count() == 1


def test_gap_fill_custom_budget_probes_below_floor(spark):
    from data_lakehouse_hygiene_spark.operators import temporal

    rows = [
        (1, dt.datetime(1970, 1, 1), 1.0),
        (1, dt.datetime(2024, 1, 1), 2.0),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    with pytest.raises(ValueError) as exc:
        temporal.gap_fill(
            df,
            key="k",
            ts="ts",
            value_agg=F.sum("v"),
            max_spine_rows=10_000,
        ).collect()
    assert "planned spine" in str(exc.value)


# --------------------------- simhash128: concentration refusal (advice)
def test_simhash128_mih_refuses_mass_duplicate_concentration(
    spark, monkeypatch
):
    """One mass-duplicated 128-bit signature of c docs plans c(c-1)/2
    within-bucket compares per band at ANY band width — the w=32 arm
    must refuse on the aggregated triangle term, not reason from
    average occupancy."""
    from data_lakehouse_hygiene_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere") for i in range(100)],
        "doc_id long, text string",
    )
    lanes = dedup._swar_lanes(
        dedup._simhash_agg(docs, "text", 2), ("sh_0", "sh_1", "sh_2", "sh_3")
    )
    monkeypatch.setattr(dedup, "MIH_PROBE_MIN_DOCS", 10)
    # 100 identical sigs -> 4 bands x 4950 = 19800 planned compares
    with pytest.raises(ValueError) as exc:
        dedup.mih_pairs(
            lanes, 4, 7, n_docs=100, max_compares=1_000, name="simhash128"
        ).collect()
    msg = str(exc.value)
    assert "max_compares" in msg and "simhash128" in msg
    # under a budget that fits, the same corpus runs and finds all pairs
    out = dedup.mih_pairs(
        lanes, 4, 7, n_docs=100, max_compares=1e12, name="simhash128"
    )
    assert out.count() == 100 * 99 // 2


def test_simhash128_max_hamming_contract_is_valueerror(spark):
    from data_lakehouse_hygiene_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    with pytest.raises(ValueError):
        dedup.simhash128_near_dup_pairs(docs, max_hamming=8)


# ----------------------- public-contract ValueError sweep (round 14 #5)
def test_public_contracts_raise_valueerror_not_assert(spark):
    from data_lakehouse_hygiene_spark.operators import (
        dedup,
        multimodal,
        sampling,
        text,
    )

    docs = spark.createDataFrame(
        [(1, "a b c", "s")], "doc_id long, text string, source string"
    )
    with pytest.raises(ValueError):
        dedup.simhash_near_dup_pairs(docs, max_hamming=8)
    with pytest.raises(ValueError):
        sampling.mixture_resample(docs, "source", alpha=0.7)
    with pytest.raises(ValueError):
        text.repetition_metrics(docs, keep=("keep",))
    fp = spark.createDataFrame([(1, 5)], "doc_id long, phash long")
    with pytest.raises(ValueError):
        multimodal.media_near_dup(fp, max_hamming=8)


# ------------------ streaming zone: idempotent (exactly-once) landing
def test_gated_zone_stream_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed batch (simulated by
    wiping the checkpoint) must OVERWRITE its own batch_id partition,
    not append a duplicate copy."""
    import shutil

    from data_lakehouse_hygiene_spark import streaming

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp_ntz, value double"
    src = str(tmp_path / "src")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, t0, 5.0), (2, t0, 7.0)], schema
    ).coalesce(1).write.parquet(src)
    rules = [("negative_value", F.col("value") < 0)]

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        streaming.gated_zone_stream(
            stream, "clean", zone, rules=rules, checkpoint=ckpt
        )

    run()
    assert spark.read.parquet(zone).count() == 2
    # simulate the crash-before-checkpoint-commit replay
    shutil.rmtree(ckpt)
    run()
    landed = spark.read.parquet(zone)
    assert landed.count() == 2
    assert {r.event_id for r in landed.collect()} == {1, 2}
    # batch_id is a visible partition column of the landed zone
    assert "batch_id" in landed.columns


# ================== round-14 headline: de-skewed dedup elections
def _line_dedup_reference(docs, delim="\n", min_chars=1):
    """Pure-Python keep-first line dedup (the operator's contract)."""
    occs = {}
    for doc_id, text in docs:
        for pos, line in enumerate(text.split(delim)):
            if len(line) >= min_chars:
                occs.setdefault(line, []).append((doc_id, pos))
    first = {ln: min(ps) for ln, ps in occs.items()}
    out = {}
    for doc_id, text in docs:
        kept, removed = [], 0
        for pos, line in enumerate(text.split(delim)):
            if len(line) < min_chars or first[line] == (doc_id, pos):
                kept.append(line)
            else:
                removed += 1
        out[doc_id] = (delim.join(kept), removed)
    return out


def test_line_dedup_mass_duplicate_matches_reference(spark):
    """Planted mass-dup skew: ONE boilerplate line occurring 5000x
    across the corpus — the pre-round-14 window plan serialized all
    occurrences into one task; the agg+join plan must return the same
    keep-first answer."""
    import random

    from data_lakehouse_hygiene_spark.operators import dedup

    rng = random.Random(14)
    hot = "all rights reserved by the example corporation"
    docs = []
    for d in range(500):
        lines = []
        for i in range(10):
            lines.append(hot)  # 5000 occurrences corpus-wide
            lines.append(f"unique line {d} {i} {rng.randrange(1 << 30)}")
        docs.append((d, "\n".join(lines)))
    ref = _line_dedup_reference(docs)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_lines_removed)
        for r in dedup.line_dedup(df).collect()
    }
    assert got == ref
    # the hot line survives exactly once corpus-wide
    survivors = sum(t.split("\n").count(hot) for t, _ in got.values())
    assert survivors == 1


def _substring_keep_first_reference(docs, k):
    """Pure-Python all-but-first exact-substring dedup."""
    occ = {}
    toks = {d: t.split() for d, t in docs}
    for d, ts in toks.items():
        for p in range(len(ts) - k + 1):
            occ.setdefault(" ".join(ts[p : p + k]), []).append((d, p))
    out = {}
    for d, ts in toks.items():
        cut = set()
        for g, ps in occ.items():
            if len(ps) < 2:
                continue
            keeper = min(ps)
            for dd, p in ps:
                if dd == d and (dd, p) != keeper:
                    cut.update(range(p, p + k))
        kept = [t for i, t in enumerate(ts) if i not in cut]
        out[d] = (" ".join(kept), len(ts) - len(kept))
    return out


def test_substring_keep_first_mass_duplicate_matches_reference(spark):
    """Same planted skew for the token-shingle family: a license header
    repeated across every document. The packed-BIGINT min election
    (agg+join) must equal the old ROW_NUMBER-window semantics, which
    the pure-Python reference encodes."""
    import random

    from data_lakehouse_hygiene_spark.operators import dedup

    rng = random.Random(41)
    header = "licensed under the apache license version two point zero"
    docs = []
    for d in range(120):
        body = " ".join(
            f"w{rng.randrange(200)}" for _ in range(rng.randrange(10, 30))
        )
        docs.append((d, f"{header} {body}"))
    k = 8
    ref = _substring_keep_first_reference(docs, k)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_tokens_removed)
        for r in dedup.substring_dedup_keep_first(df, min_tokens=k).collect()
    }
    assert got == ref
    # doc 0 keeps the header (its occurrence is the global keeper)
    assert got[0][0].startswith(header)
    assert all(not got[d][0].startswith(header) for d in range(1, 120))


def test_dedup_elections_have_no_hot_key_windows(spark):
    """Plan pins for the round-14 de-skew: the keeper/frequency
    elections must be partial aggregates joined back (AQE-splittable),
    never WindowExec over the raw shingle/line stream. Windows
    partitioned by doc_id (gaps-and-islands) are document-bounded and
    stay."""
    import re

    from .conftest import SF_ORACLE
    import __spark_entry__ as entrymod

    def plan(name):
        df = entrymod.queries()[name](spark, SF_ORACLE)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")

    # line elections: no Window at all
    for name in ("line_dedup", "incremental_line_dedup"):
        p = plan(name)
        assert "Window" not in p, (name, p)
    # substring family: only doc_id-partitioned islands windows remain
    for name in (
        "substring_dedup",
        "substring_dedup_apply",
        "substring_dedup_keep_first",
        "ngram_jaccard",
    ):
        p = plan(name)
        for spec in re.findall(r"windowspecdefinition\((\w+)#", p):
            assert spec == "doc_id", (name, spec)


# ---------------- streaming line dedup (round-14 stretch item 8)
def test_line_dedup_stream_suppresses_duplicates_across_batches(
    spark, tmp_path
):
    """The doubled stream (every doc twice, one file per trigger) must
    emit each eligible line digest exactly once — state carries across
    micro-batches — and equal the batch DISTINCT set."""
    from data_lakehouse_hygiene_spark import streaming

    docs = [
        (1, "alpha\nbeta\ngamma"),
        (2, "beta\ndelta\n"),  # trailing '' line: ineligible, dropped
        (3, "alpha\nalpha\nepsilon"),
    ]
    src = str(tmp_path / "src")
    schema = "doc_id long, text string"
    df = spark.createDataFrame(docs, schema)
    df.coalesce(1).write.parquet(src + "/f1")
    df.coalesce(1).write.parquet(src + "/f2")  # the replay copy
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/f*")
    )
    out = streaming.run_to_memory(
        streaming.line_dedup_stream(stream), output_mode="append"
    )
    got = sorted(r.line_hash for r in out.collect())
    expected = sorted(
        r.h
        for r in spark.createDataFrame(docs, schema)
        .selectExpr("explode(split(text, '\\n', -1)) AS line")
        .where("length(line) >= 1")
        .selectExpr("md5(line) AS h")
        .distinct()
        .collect()
    )
    assert got == expected
    assert len(got) == 5  # alpha beta gamma delta epsilon


# ------------------- round 14: global_rank percentile-bucket correctness
def test_global_rank_bucket_path_matches_truth_at_scale(spark, monkeypatch):
    """Regression for the pre-round-14 ``sampling.global_rank``: the
    ``repartitionByRange`` + ``spark_partition_id()`` + offsets-collect
    construction mis-ranked 483k of 500k rows at 500k synthetic rows,
    because range-partition boundaries are re-SAMPLED per action (the
    sampler seed incorporates the RDD id) — the counts job and the
    ranking job could disagree on row placement. The percentile-bucket
    plan bakes the cuts in as literals; with the bucket budget shrunk so
    MULTIPLE buckets (and the NULL sentinel bucket) are genuinely in
    play, every rank must equal the single-window truth."""
    from pyspark.sql import functions as F

    from data_lakehouse_hygiene_spark.operators import sampling

    monkeypatch.setattr(sampling, "GR_BYTES_PER_BUCKET", 1 << 14)
    n = 100_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 97 == 0, F.lit(None)).otherwise(
            F.pmod(F.xxhash64("id"), 5000) + 50
        ).alias("n_chars"),
    )
    order = [F.col("n_chars").desc(), F.col("doc_id").asc()]
    ranked = sampling.global_rank(
        docs, order, n_parts=8, bucket_on=("n_chars", False)
    )
    # the plan must really use >1 bucket (the regression only bites
    # then): the offsets broadcast join only exists on the multi-bucket
    # path
    assert "__bkt" in ranked._jdf.queryExecution().optimizedPlan().toString()
    got = {r["doc_id"]: r["rank"] for r in ranked.collect()}
    rows = docs.collect()
    # single-window truth: n_chars DESC NULLS LAST, doc_id ASC
    srt = sorted(
        ((r["n_chars"], r["doc_id"]) for r in rows),
        key=lambda t: (t[0] is None, -(t[0] or 0), t[1]),
    )
    want = {doc: i + 1 for i, (_, doc) in enumerate(srt)}
    assert got == want


# ------------- round 14 optimization: 128-bit xxhash-pair internal keys
def test_content_key128_lanes_are_independent_and_plans_dropped_md5(spark):
    """The substring/line/ngram families' internal equality digests moved
    from md5-hex to content_key128 (two xxhash64 lanes). Pins:
    (a) lane 2 uses the seed-PREFIX form xxhash64(lit(1), s) — the
        postfix form xxhash64(s, lit(1)) is a pure post-mix of lane 1
        and would inherit every lane-1 collision;
    (b) the optimized plans really shed the md5 (and, for ngram_jaccard,
        the raw-string shingle key): no md5 call remains in the
        substring/line/ngram physical plans, and the digest exchanges
        hash on bigint lanes.
    Output equality vs the md5-keyed plans was asserted value-hash-equal
    for all six declared rows at commit time; the oracle rows pin it
    permanently."""
    from data_lakehouse_hygiene_spark.operators import dedup

    s = F.lit("abc")
    row = spark.range(1).select(
        F.xxhash64(F.lit(1), s).alias("prefix"),
        F.xxhash64(s, F.lit(1)).alias("postfix"),
        F.xxhash64(s).alias("lane1"),
        *(c.alias(f"k{i}") for i, c in enumerate(dedup.content_key128(s))),
    ).collect()[0]
    assert row["k0"] == row["lane1"]          # lane 1 is the plain hash
    assert row["k1"] == row["prefix"]         # lane 2 is the seed-prefix form
    assert row["prefix"] != row["postfix"]    # and not the post-mix form

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")],
        "doc_id long, text string",
    )
    for name, mk in {
        "spans": lambda: dedup.substring_dedup_spans(docs),
        "keep_first": lambda: dedup.substring_dedup_keep_first(docs),
        "line": lambda: dedup.line_dedup(docs),
        "ngram": lambda: dedup.ngram_jaccard_pairs(docs),
    }.items():
        plan = mk()._jdf.queryExecution().executedPlan().toString()
        assert "md5" not in plan, (name, plan[:400])


# -------- round 14 optimization: fused structured media fingerprint path
def test_structured_phash_fused_equals_chained_operators(spark):
    """q_media_near_dup's fingerprint arms moved to
    multimodal.structured_phash — ONE mapInPandas running the same
    synthesize/transform/decode/fingerprint batch cores as the chained
    public operators, so payloads never cross the JVM↔Python boundary
    (measured 2.7-5.4x at 200k assets; the chained form re-batches
    ~12 KB payloads between every Python stage). The fused plan must be
    value-identical to the chained plan, transform and no-transform
    arms both, including the id_offset re-labeling."""
    from data_lakehouse_hygiene_spark.operators import multimodal as M

    docs = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    chained = M.media_phash(M.synthesize_structured_media(docs))
    fused = M.structured_phash(docs)
    assert sorted(map(tuple, chained.collect())) == sorted(
        map(tuple, fused.collect())
    )
    planted = M.synthesize_structured_media(docs).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000_000)
    )
    chained_tx = M.media_phash(
        M.transform_media(planted, scale_div=2, sample_every=4)
    )
    fused_tx = M.structured_phash(
        docs, transform=(2, 4), id_offset=1_000_000_000
    )
    assert sorted(map(tuple, chained_tx.collect())) == sorted(
        map(tuple, fused_tx.collect())
    )

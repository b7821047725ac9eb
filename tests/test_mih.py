"""dedup.mih_pairs — the one multi-index-hashing pair miner behind the
64-bit and 128-bit SimHash families and media_near_dup: its w = 32
refusal probe, degenerate inputs on every public MIH arm, and the
keyed media geometry against brute force."""

from __future__ import annotations

import itertools
import random

import pytest


def test_simhash64_h3_mih_refuses_mass_dup_through_triangle_probe(
    spark, monkeypatch
):
    """At h ≤ 3 the 64-bit family mines 2×32-bit bands, where a dense
    histogram is unbuildable: identical documents must still refuse on
    the server-side triangle term (2 bands × C(100, 2) = 9900), and the
    default budget must mine the same corpus."""
    from data_lakehouse_hygiene_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "the same exact document body for everyone") for i in range(100)],
        "doc_id long, text string",
    )
    monkeypatch.setattr(dedup, "SIMHASH_MIH_BYTES", 0)
    monkeypatch.setattr(dedup, "MIH_PROBE_MIN_DOCS", 0)
    monkeypatch.setattr(dedup, "MIH_MAX_COMPARES", 1_000)
    with pytest.raises(ValueError) as exc:
        dedup.simhash_near_dup_pairs(docs, max_hamming=3)
    msg = str(exc.value)
    assert "simhash MIH planned compare volume 9.90e+03" in msg
    assert "2×32-bit" in msg
    assert "Exact-dedup identical signatures" in msg

    monkeypatch.setattr(dedup, "MIH_MAX_COMPARES", 1e12)
    got = dedup.simhash_near_dup_pairs(docs, max_hamming=3)
    assert got.count() == 100 * 99 // 2


def _is_mih(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "FlatMapGroupsInPandas" in plan


@pytest.mark.parametrize("n_rows", [0, 1])
def test_degenerate_inputs_on_every_mih_arm(spark, monkeypatch, n_rows):
    """Empty and one-row inputs forced onto the MIH arm of all three
    public pair functions (with the planned-compare probe live) return
    zero pairs without error."""
    from data_lakehouse_hygiene_spark.operators import dedup, multimodal

    monkeypatch.setattr(dedup, "SIMHASH_MIH_BYTES", 0)
    monkeypatch.setattr(dedup, "MIH_PROBE_MIN_DOCS", 0)
    monkeypatch.setattr(multimodal, "MEDIA_MIH_MIN_ASSETS", -1)
    docs = spark.createDataFrame(
        [(1, "one short document body")][:n_rows], "doc_id long, text string"
    )
    fp = spark.createDataFrame(
        [(1, "image/bmp", 0x0123456789ABCDEF)][:n_rows],
        "doc_id long, media_type string, phash long",
    )
    for out in (
        dedup.simhash_near_dup_pairs(docs, max_hamming=7),
        dedup.simhash_near_dup_pairs(docs, max_hamming=3),
        dedup.simhash128_near_dup_pairs(docs),
        multimodal.media_near_dup(fp, max_hamming=7, n_assets=n_rows),
        multimodal.media_near_dup(fp, max_hamming=3, n_assets=n_rows),
    ):
        assert _is_mih(out)
        assert out.collect() == []


@pytest.mark.parametrize("max_hamming", [3, 7])
def test_media_mih_keyed_pairs_equal_brute_force(spark, max_hamming):
    """Two modalities sharing fingerprints: the keyed miner (2×32-bit
    bands at h ≤ 3, 4×16 at h ≤ 7) must return exactly the per-modality
    brute-force pair set — no pair crosses media_type."""
    from data_lakehouse_hygiene_spark.operators import multimodal

    rng = random.Random(7)
    base = [rng.getrandbits(64) for _ in range(40)]
    rows = []
    for i in range(160):
        v = base[i % 40]
        for _ in range(rng.randint(0, 8)):
            v ^= 1 << rng.randrange(64)
        mt = "image/bmp" if i % 2 else "audio/wav"
        rows.append((i, mt, v - (1 << 64) if v >= 1 << 63 else v))
    fp = spark.createDataFrame(
        rows, "doc_id long, media_type string, phash long"
    )
    want = set()
    for (i, mi, a), (j, mj, b) in itertools.combinations(rows, 2):
        d = bin((a ^ b) & ((1 << 64) - 1)).count("1")
        if mi == mj and d <= max_hamming:
            want.add((mi, min(i, j), max(i, j), d))
    assert want
    out = multimodal.media_near_dup(fp, max_hamming=max_hamming)
    assert _is_mih(out)
    assert {tuple(r) for r in out.collect()} == want

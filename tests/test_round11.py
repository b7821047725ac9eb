"""Round-11 additions: the integer-exact perceptual fingerprints (the
change that gives media_phash/media_near_dup full DuckDB value-hash
oracles), the group_heavy_hitters high-cardinality size gate, and the
ADVICE r10 guards (cosine_topk zero norms, lsh_ann dtype passthrough).
"""

import numpy as np
from pyspark.sql import functions as F


# ------------------------------------------------ integer-exact pHash
def test_phash_bmp_is_integer_exact_and_grid_replayable():
    """The BMP fingerprint of a structured payload must equal the pure
    hash-grid replay formula the DuckDB oracle implements: fixed-point
    COS_Q16 DCT over 256*g, exact middle-element median, bit p = u*8+v
    at weight 2^(63-p)."""
    from data_lakehouse_hygiene_spark.operators.multimodal import (
        COS_Q16, _hash_grid, _phash_bmp,
    )

    C = np.array(
        [[COS_Q16[((2 * n + 1) * k) % 64] for n in range(16)]
         for k in range(16)],
        dtype=np.int64,
    )
    for doc_id in (0, 2, 44, 1000, 123456):
        g = _hash_grid(doc_id, 16, 16)
        img = np.kron(g, np.ones((4, 4), dtype=np.uint8))
        data = np.repeat(img, 3, axis=1).astype(np.uint8).tobytes()
        size = 54 + len(data)
        hdr = (
            b"BM" + size.to_bytes(4, "little") + b"\0\0\0\0"
            + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
            + (64).to_bytes(4, "little", signed=True)
            + (64).to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + (0).to_bytes(4, "little")
            + len(data).to_bytes(4, "little") + b"\0" * 16
        )
        dct = C @ (256 * g.astype(np.int64)) @ C.T
        block = dct[:8, :8].flatten()[1:]
        med = int(np.partition(block, 31)[31])
        bits = 0
        for b in block > med:
            bits = (bits << 1) | int(b)
        assert _phash_bmp(hdr + data) == bits


def test_phash_wav_is_integer_exact_and_grid_replayable():
    """The WAV fingerprint of a structured payload must equal the amp
    comparison chain the oracle replays: amp = 10 + (g*100)//255,
    rising bit f at weight 2^(62-f)."""
    from data_lakehouse_hygiene_spark.operators.multimodal import (
        _hash_grid, _phash_wav,
    )

    for doc_id in (1, 3, 45, 999, 54321):
        g = _hash_grid(doc_id, 8, 8).reshape(64).astype(np.int64)
        amp = 10 + (g * 100) // 255
        frames = np.repeat(amp, 64)
        sgn = np.tile([1, -1], 2048)
        s = (128 + frames * sgn).astype(np.uint8)
        data = s.tobytes()
        fmt = (
            b"fmt " + (16).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
            + (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
        )
        chunks = fmt + b"data" + len(data).to_bytes(4, "little") + data
        p = b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks
        bits = 0
        for f in range(63):
            bits = (bits << 1) | int(amp[f + 1] > amp[f])
        assert _phash_wav(p) == bits


def test_phash_variants_are_exactly_invariant():
    """The oracle fingerprints planted variants by replaying the
    ORIGINAL doc's phash — valid only because resize(/2) and
    decimate(/4) leave the integer fingerprint EXACTLY unchanged (not
    merely within Hamming budget)."""
    from data_lakehouse_hygiene_spark.operators.multimodal import (
        _decimate_wav, _phash_bmp, _phash_wav, _resize_bmp,
    )
    from data_lakehouse_hygiene_spark.operators import multimodal as mm

    # reuse the library synthesizer via a local frame-free call path:
    # build payloads exactly as synthesize_structured_media does
    def synth(i):
        g = mm._hash_grid(i, 16, 16)
        if i % 2 == 0:
            img = np.kron(g, np.ones((4, 4), dtype=np.uint8))
            data = np.repeat(img, 3, axis=1).astype(np.uint8).tobytes()
            size = 54 + len(data)
            hdr = (
                b"BM" + size.to_bytes(4, "little") + b"\0\0\0\0"
                + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
                + (64).to_bytes(4, "little", signed=True)
                + (64).to_bytes(4, "little", signed=True)
                + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
                + (0).to_bytes(4, "little")
                + len(data).to_bytes(4, "little") + b"\0" * 16
            )
            return hdr + data
        g8 = mm._hash_grid(i, 8, 8).reshape(64).astype(np.int64)
        amp = 10 + (g8 * 100) // 255
        s = (128 + np.repeat(amp, 64) * np.tile([1, -1], 2048)).astype(
            np.uint8
        )
        data = s.tobytes()
        fmt = (
            b"fmt " + (16).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
            + (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
        )
        chunks = fmt + b"data" + len(data).to_bytes(4, "little") + data
        return (
            b"RIFF" + (4 + len(chunks)).to_bytes(4, "little")
            + b"WAVE" + chunks
        )

    for i in range(0, 40, 2):
        p = synth(i)
        assert _phash_bmp(_resize_bmp(p, 2)) == _phash_bmp(p)
        assert _phash_bmp(_resize_bmp(p, 4)) == _phash_bmp(p)
    for i in range(1, 41, 2):
        p = synth(i)
        assert _phash_wav(_decimate_wav(p, 4)) == _phash_wav(p)


def test_media_oracles_registered():
    """Both media rows must now carry oracle SQL (the last two
    no_oracle rows of rounds 9/10)."""
    import __spark_entry__ as m

    sqls = m.oracle_sql()
    assert "media_phash" in sqls and "media_near_dup" in sqls
    assert "bit_count" in sqls["media_near_dup"]


# ------------------------------------ group_heavy_hitters size gate
def test_group_heavy_hitters_gate_paths_agree(spark):  # noqa: F811
    """The high-cardinality fallback (plain group-bounded aggregate +
    window total) must produce exactly the MG-sketch path's output —
    the gate can move the plan, never the values."""
    from data_lakehouse_hygiene_spark.operators.aggregates import (
        group_heavy_hitters,
    )

    rows = []
    for g in range(60):
        rows += [(f"g{g}", "hot")] * 10 + [(f"g{g}", f"v{i}") for i in range(8)]
    df = spark.createDataFrame(rows, "g string, v string").repartition(16)
    via_sketch = [
        tuple(r)
        for r in group_heavy_hitters(df, "g", "v", phi=0.3).collect()
    ]
    via_plain = [
        tuple(r)
        for r in group_heavy_hitters(
            df, "g", "v", phi=0.3, max_sketch_groups=10
        ).collect()
    ]
    assert via_plain == via_sketch
    assert {t[1] for t in via_plain} == {"hot"}
    assert len(via_plain) == 60


def test_group_heavy_hitters_gated_plan_has_no_sketch(spark):  # noqa: F811
    """Past the gate the plan must be the plain aggregate: no Python
    stage (the MG sketch is the only mapInPandas in this operator)."""
    from data_lakehouse_hygiene_spark.operators.aggregates import (
        group_heavy_hitters,
    )

    df = spark.createDataFrame(
        [(f"g{i}", "x") for i in range(50)], "g string, v string"
    )
    plan = group_heavy_hitters(
        df, "g", "v", phi=0.5, max_sketch_groups=1
    )._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" not in plan and "ArrowEvalPython" not in plan


# ------------------------------------------------ ADVICE r10 guards
def test_cosine_topk_zero_norm_vectors_never_rank(spark):  # noqa: F811
    """A corpus vector whose norm quantizes to zero must be dropped
    (old kernel: cosine=inf ranked it first); a zero-norm query yields
    no rows for that query id."""
    from data_lakehouse_hygiene_spark.operators.similarity import (
        cosine_topk,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1e-7, 1e-7]),  # norm quantizes to 0 at DOT_SCALE
        (3, [0.5, 0.5, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_topk(
        df, "embedding", query_pred=F.col("vec_id") == 0, k=4
    ).collect()
    ids = [r["vec_id"] for r in out]
    assert 2 not in ids
    assert all(np.isfinite(r["cosine"]) for r in out)
    # zero-norm query: no output rows, no crash
    out2 = cosine_topk(
        df, "embedding", query_pred=F.col("vec_id") == 2, k=4
    ).collect()
    assert out2 == []


def test_lsh_ann_preserves_double_element_type(spark):  # noqa: F811
    """lsh_ann on an array<double> corpus must not silently downcast
    the vectors to float before the exact re-rank."""
    from data_lakehouse_hygiene_spark.operators.similarity import (
        _norm_bucket_frame,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [0.5, 0.25])],
        "vec_id long, embedding array<double>",
    )
    out = _norm_bucket_frame(df, "embedding", 8)
    assert out.schema["embedding"].dataType.simpleString() == "array<double>"
    df32 = df.select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out32 = _norm_bucket_frame(df32, "embedding", 8)
    assert out32.schema["embedding"].dataType.simpleString() == "array<float>"


# --------------------------------------- batched fingerprint kernels
def test_phash_batch_equals_scalar_across_geometries():
    """_phash_payloads routes same-geometry payloads through the batched
    kernels; every fingerprint must equal the scalar function's —
    including the non-divisible pooling / frame paths and the
    sub-grid-tiny shapes."""
    from data_lakehouse_hygiene_spark.operators.multimodal import (
        _phash_bmp, _phash_payloads, _phash_wav, make_bmp, make_wav,
    )

    payloads = []
    for w, h, seed in [
        (64, 64, 1), (64, 64, 2), (32, 32, 3), (48, 48, 4), (17, 9, 5),
        (64, 48, 6), (5, 5, 7), (16, 16, 8), (33, 65, 9),
    ]:
        payloads.append(make_bmp(w, h, seed=seed))
    for sr, ns, seed in [
        (8000, 4096, 1), (8000, 4096, 2), (8000, 1024, 3),
        (8000, 1000, 4), (4000, 77, 5), (8000, 63, 6),
    ]:
        payloads.append(make_wav(sr, ns, seed=seed))
    got = _phash_payloads(payloads)
    want = [
        _phash_bmp(p) if p[:2] == b"BM" else _phash_wav(p)
        for p in payloads
    ]
    assert got == want


def test_hash_grid_batch_equals_scalar():
    from data_lakehouse_hygiene_spark.operators.multimodal import (
        _hash_grid, _hash_grid_batch,
    )

    ids = np.array([0, 2, 4, 123456, 999_999_998, 2**40], dtype=np.int64)
    got = _hash_grid_batch(ids, 16, 16)
    for n, i in enumerate(ids):
        assert (got[n] == _hash_grid(int(i), 16, 16)).all()


def test_synthesize_structured_media_payload_bytes_pinned(spark):  # noqa: F811
    """The batched synthesis must emit byte-identical payloads to the
    scalar construction (header layout included), for both modalities."""
    from data_lakehouse_hygiene_spark.operators import multimodal

    df = spark.createDataFrame(
        [(i,) for i in range(8)] + [(123456,), (54321,)], "doc_id long"
    )
    out = {
        r["doc_id"]: bytes(r["payload"])
        for r in multimodal.synthesize_structured_media(df).collect()
    }
    for i, p in out.items():
        if i % 2 == 0:
            g = multimodal._hash_grid(i, 16, 16)
            img = np.kron(g, np.ones((4, 4), dtype=np.uint8))
            data = np.repeat(img, 3, axis=1).astype(np.uint8).tobytes()
            size = 54 + len(data)
            hdr = (
                b"BM" + size.to_bytes(4, "little") + b"\0\0\0\0"
                + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
                + (64).to_bytes(4, "little", signed=True)
                + (64).to_bytes(4, "little", signed=True)
                + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
                + (0).to_bytes(4, "little")
                + len(data).to_bytes(4, "little") + b"\0" * 16
            )
            assert p == hdr + data, i
        else:
            g = multimodal._hash_grid(i, 8, 8).reshape(64).astype(np.int64)
            amp = 10 + (g * 100) // 255
            frames = np.repeat(amp, 64)
            sgn = np.tile([1, -1], 2048)
            s = (128 + frames * sgn).astype(np.uint8)
            data = s.tobytes()
            fmt = (
                b"fmt " + (16).to_bytes(4, "little")
                + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
                + (8000).to_bytes(4, "little")
                + (8000).to_bytes(4, "little")
                + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
            )
            chunks = fmt + b"data" + len(data).to_bytes(4, "little") + data
            want = (
                b"RIFF" + (4 + len(chunks)).to_bytes(4, "little")
                + b"WAVE" + chunks
            )
            assert p == want, i


def test_transform_media_batched_resize_equals_scalar(spark):  # noqa: F811
    """The grouped strided-gather resize must emit byte-identical BMPs
    to _resize_bmp, across divisible and non-divisible geometries."""
    from data_lakehouse_hygiene_spark.operators import multimodal
    from data_lakehouse_hygiene_spark.operators.multimodal import (
        _decimate_wav, _resize_bmp, make_bmp, make_wav,
    )

    rows = [
        (0, "image/bmp", make_bmp(64, 64, seed=1)),
        (2, "image/bmp", make_bmp(64, 64, seed=2)),
        (4, "image/bmp", make_bmp(17, 9, seed=3)),
        (6, "image/bmp", make_bmp(33, 65, seed=4)),
        (1, "audio/wav", make_wav(8000, 4096, seed=5)),
        (3, "audio/wav", make_wav(8000, 1000, seed=6)),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, media_type string, payload binary"
    )
    out = {
        r["doc_id"]: bytes(r["payload"])
        for r in multimodal.transform_media(
            df, scale_div=2, sample_every=4
        ).collect()
    }
    for doc_id, mt, p in rows:
        want = (
            _resize_bmp(p, 2) if mt == "image/bmp" else _decimate_wav(p, 4)
        )
        assert out[doc_id] == want, doc_id


# ------------------------------- round-11b: data-proportional spread
def test_spread_fanout_is_data_proportional(spark):
    """A sub-MB input must fan out to a handful of tasks (one per
    ~``SPREAD_BYTES_PER_TASK``), not the flat core count — the flat
    fan-out was pure scheduling floor at bench scale. Inputs past
    cores x 128 MB stay untouched (the cluster-scale no-op contract).
    The expected width is DERIVED from the module constant so the
    round-14 divisor retune (256 KB -> 128 KB) and any future sweep
    keep this pin honest without hand-edits."""
    from data_lakehouse_hygiene_spark.operators import cleaning
    from data_lakehouse_hygiene_spark.operators.cleaning import spread

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    n = spread(docs).rdd.getNumPartitions()
    cores = spark.sparkContext.defaultParallelism
    assert n >= 2  # ~600 KB -> a handful of tasks
    # ~600 KB / SPREAD_BYTES_PER_TASK (+1) data-proportional tasks,
    # capped at the core count; only assert the "not the flat core
    # fan-out" half where the core count leaves headroom above that.
    expect_uncapped = (
        int(600 * 1024 // cleaning.SPREAD_BYTES_PER_TASK) + 1
    )
    if cores > expect_uncapped + 1:
        assert n < cores


# ---------------------------- round-11b: set-bit MIH variant transport
def test_mih_set_bit_rule_single_orientation(spark):
    """Every band-distance-1 pair must be discovered exactly once per
    band under the set-bit rule: the exact side with the flipped bit
    CLEARED hosts the meeting. Verified end-to-end: the MIH pair set on
    a corpus whose planted pairs differ in top band bits equals brute
    force (max_hamming=1 makes every pair a single-flip pair)."""
    import data_lakehouse_hygiene_spark.operators.dedup as D
    import itertools

    rows = []
    # signatures that differ in exactly one bit, spread over all 64
    # positions (planted via controlled text is indirect; use the
    # public pair miner on a tiny corpus and brute-force check instead)
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta token{i % 3}")
         for i in range(40)],
        "doc_id long, text string",
    )
    old_mih = D.SIMHASH_MIH_BYTES
    D.SIMHASH_MIH_BYTES = 0
    try:
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in D.simhash_near_dup_pairs(docs, max_hamming=7).collect()
        }
    finally:
        D.SIMHASH_MIH_BYTES = old_mih
    sig_rows = D.simhash_signatures(docs).collect()
    bit_col = [c for c in sig_rows[0].asDict() if c != "doc_id"][0]
    sigs = {r["doc_id"]: int(r[bit_col], 2) for r in sig_rows}
    want = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin(sigs[a] ^ sigs[b]).count("1")
        if h <= 7:
            want.add((a, b, h))
    # non-vacuity guard (round-12 review): the set-bit variant path only
    # runs for pairs at hamming 1..7 (h=0 pairs meet exact-exact), so
    # the equality above proves nothing unless such pairs exist in the
    # truth set. With this corpus the (token0, token1) texts sit at
    # hamming 6 — pin that so a future text/shingle change can't make
    # the test silently vacuous. Direct per-band coverage (including
    # top-band single-flip pairs in both set-bit orientations) is the
    # planted-signature kernel test below.
    assert any(1 <= h <= 7 for (_, _, h) in want), (
        "test corpus no longer produces near (1<=h<=7) pairs — "
        "the variant path is unexercised; adjust the texts"
    )
    assert got == want


def _planted_simhash_agg(spark, sigs: dict[int, int]):
    """Build the ``_simhash_agg`` SWAR frame that decodes to EXACTLY the
    given 64-bit signatures: one 'shingle' per doc (``__n = 1``), each
    set bit j contributing 1 to its packed lane position (the inverse of
    the ``_swar_bits_sql`` position math: bit j lives at packed word
    q = (60 if j<32 else 28) - 4*((j%32)//4) + (j%32)%4, lane word q%16,
    lane shift 16*(q//16)); majority ``2*ones > 1`` then reproduces bit
    j iff it was planted. Lets kernel tests choose signatures directly
    instead of steering them indirectly through text shingles."""
    rows = []
    for doc_id in sorted(sigs):
        w = [0] * 16
        for j in range(64):
            if (sigs[doc_id] >> j) & 1:
                jj = j % 32
                q = (60 if j < 32 else 28) - 4 * (jj // 4) + jj % 4
                w[q % 16] += 1 << (16 * (q // 16))
        rows.append((doc_id, 1, *w))
    schema = "doc_id long, __n bigint, " + ", ".join(
        f"w{k} bigint" for k in range(16)
    )
    return spark.createDataFrame(rows, schema)


def test_mih_kernel_planted_single_flip_pairs_every_band(spark):
    """Unit-level set-bit rule coverage with PLANTED signatures (no text
    indirection): for each of the 4 16-bit bands, one pair differing in
    exactly one TOP band bit (crosses tasks — must be met via the
    set-side's variant landing in the cleared-side's bucket, each
    orientation planted once) and one pair differing in one LOW band bit
    (same-task neighbor-bucket compare); plus an exact duplicate, a
    mid-range h=5 pair, and a far h>7 negative. The MIH pair set must
    equal 64-bit brute force — and the planted geometry guarantees every
    discovery path actually fires."""
    import itertools

    import data_lakehouse_hygiene_spark.operators.dedup as D

    # s = 4 at this corpus size -> low bits [0,12), top bits [12,16) of
    # each band k (signature bits 16k+12 .. 16k+15)
    base = 0x5A5A_3C3C_0F0F_9696
    sigs: dict[int, int] = {}
    doc = 0
    for k in range(4):
        top_bit = 16 * k + 13
        low_bit = 16 * k + 2
        # top-bit pair, orientation A: first doc has the bit SET
        sigs[doc] = base | (1 << top_bit)
        sigs[doc + 1] = base & ~(1 << top_bit)
        # low-bit pair (offset the base so these don't collide with the
        # top pair at hamming <= 7 across bands -- they will anyway be
        # counted by brute force; equality is what matters)
        other = base ^ (0xFFFF << (16 * ((k + 2) % 4)))
        sigs[doc + 2] = other
        sigs[doc + 3] = other ^ (1 << low_bit)
        doc += 4
    # exact duplicate pair
    sigs[doc] = base
    sigs[doc + 1] = base
    # h=5 pair spread over two bands (band dist 2 in no band... 3+2)
    m5 = (0b111 << 4) | (0b11 << 20)
    sigs[doc + 2] = base ^ (0xFFFF_FFFF << 32)
    sigs[doc + 3] = (base ^ (0xFFFF_FFFF << 32)) ^ m5
    # far negative: h = 16
    sigs[doc + 4] = base ^ ((1 << 16) - 1)
    agg = _planted_simhash_agg(spark, sigs)

    # the planted frame must decode to exactly the planted signatures
    dec = {
        r["doc_id"]: (int(r["sh_lo"]), int(r["sh_hi"]))
        for r in agg.selectExpr(
            "doc_id",
            f"({D._swar_bits_sql(0, 32)}) as sh_lo",
            f"({D._swar_bits_sql(32, 32)}) as sh_hi",
        ).collect()
    }
    for d, s in sigs.items():
        assert dec[d] == (s & 0xFFFFFFFF, s >> 32), d

    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.mih_pairs(
            D._swar_lanes(agg, ("sh_lo", "sh_hi")),
            D.mih_bands(7),
            max_hamming=7,
            n_docs=len(sigs),
        ).collect()
    }
    want = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin(sigs[a] ^ sigs[b]).count("1")
        if h <= 7:
            want.add((a, b, h))
    # every planted geometry is present in the truth set by construction
    for k in range(4):
        assert (4 * k, 4 * k + 1, 1) in want      # top-band flip pair
        assert (4 * k + 2, 4 * k + 3, 1) in want  # low-band flip pair
    assert (doc, doc + 1, 0) in want
    assert got == want


# --------------------------- round-11b: media small-arm gated plan
def test_media_near_dup_arms_agree_and_small_arm_has_no_python(spark):
    """The small-corpus banded expression arm must produce exactly the
    MIH kernel arm's pair set, and its plan must contain no Python
    stage (the gate can move the plan, never the values)."""
    from data_lakehouse_hygiene_spark.operators import multimodal as mm

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    base = mm.synthesize_structured_media(docs)
    planted = mm.synthesize_structured_media(
        docs.where(F.col("doc_id") % 10 < 2)
    ).withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000_000))
    variants = mm.transform_media(planted, scale_div=2, sample_every=4)
    fp = mm.media_phash(base.unionByName(variants)).localCheckpoint()
    small = mm.media_near_dup(fp, max_hamming=7, n_assets=600)
    mih = mm.media_near_dup(fp, max_hamming=7, n_assets=None)
    assert sorted(tuple(r) for r in small.collect()) == sorted(
        tuple(r) for r in mih.collect()
    )
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan

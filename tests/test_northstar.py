"""Semantic checks for the LLM-pipeline operators beyond raw oracle parity."""

from __future__ import annotations

import pytest

from .conftest import SF_ORACLE

import __spark_entry__ as entrymod
from data_lakehouse_hygiene_spark.operators import cleaning, dedup, multimodal
from data_lakehouse_hygiene_spark.schemas import load_table


def _pairs(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_minhash_recall_of_true_pairs(spark):
    """LSH candidates + est-Jaccard filter must recover the planted
    near-duplicate pairs (exact 3-gram Jaccard >= 0.5) with high recall."""
    qs = entrymod.queries()
    truth = _pairs(qs["ngram_jaccard"](spark, SF_ORACLE))
    found = _pairs(qs["minhash_near_dup"](spark, SF_ORACLE))
    assert truth, "fixture should contain planted near-dup pairs"
    recall = len(truth & found) / len(truth)
    assert recall >= 0.8, f"minhash recall too low: {recall} ({len(truth)} true)"


def test_lsh_ann_subset_of_brute_force_ranks(spark):
    """Every ANN hit must score identically to the brute-force result for
    the same (query, candidate) pair."""
    qs = entrymod.queries()
    brute = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in qs["cosine_topk"](spark, SF_ORACLE).collect()
    }
    for r in qs["lsh_ann"](spark, SF_ORACLE).collect():
        key = (r["query_id"], r["vec_id"])
        if key in brute:
            assert brute[key] == r["cosine"]


def test_hot_key_caps_preserve_planted_pairs(spark):
    """The df-cap (ngram) and band-bucket cap (minhash) are scale guards
    against boilerplate blowup; on the test corpus (max shingle df = 7,
    max band bucket = 3) they must be exact no-ops — the planted pairs
    survive untouched."""
    docs = load_table(spark, SF_ORACLE, "documents")
    capped = _pairs(dedup.ngram_jaccard_pairs(docs))
    uncapped = _pairs(dedup.ngram_jaccard_pairs(docs, df_cap=10**9))
    assert capped == uncapped and len(capped) == 25

    m_capped = _pairs(dedup.minhash_near_dup_pairs(docs))
    m_uncapped = _pairs(dedup.minhash_near_dup_pairs(docs, bucket_cap=10**9))
    assert m_capped == m_uncapped


def test_ngram_df_cap_fires_on_boilerplate(spark):
    """When a shingle's document frequency exceeds the cap, it must stop
    generating pairs AND stop counting toward set sizes — here every doc
    shares one boilerplate sentence, so with cap < n_docs the only
    remaining signal is each doc's unique tail (no pairs at 0.5)."""
    boiler = "all rights reserved by the operator of this site"
    rows = [(i, f"{boiler} unique tail {i} alpha beta gamma {i}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = dedup.ngram_jaccard_pairs(df, df_cap=10**9).collect()
    capped = dedup.ngram_jaccard_pairs(df, df_cap=10).collect()
    assert len(uncapped) == 190  # all pairs share the boilerplate shingles
    assert len(capped) == 0  # boilerplate dropped; unique tails don't match


def test_minhash_bucket_cap_fires_on_duplicate_cluster(spark):
    """A mass-duplicate cluster larger than the bucket cap must be dropped
    from the pair output (it belongs to exact_dedup), while smaller
    clusters still pair."""
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different second document about spark shuffles here"
    rows = [(i, text_a) for i in range(40)] + [(100, text_b), (101, text_b)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = _pairs(dedup.minhash_near_dup_pairs(df, bucket_cap=32))
    assert (100, 101) in pairs  # small cluster survives
    assert not any(a < 40 and b < 40 for a, b in pairs)  # 40-dup cluster capped


def test_simhash_banding_equals_planted_set(spark):
    """8x8-bit prefix banding at Hamming<=7 must recover exactly the
    planted near-dup pair set (pigeonhole recall guarantee; the closest
    non-planted pair in the corpus sits at Hamming 16)."""
    qs = entrymod.queries()
    planted = _pairs(qs["ngram_jaccard"](spark, SF_ORACLE))
    simhash = _pairs(qs["simhash_near_dup"](spark, SF_ORACLE))
    assert simhash == planted


def test_dedup_clusters_match_union_find(spark):
    """Connected components must equal an independent union-find over the
    same pair list (min doc_id as cluster label)."""
    qs = entrymod.queries()
    pairs = list(_pairs(qs["ngram_jaccard"](spark, SF_ORACLE)))
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {x: find(x) for x in parent}
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in qs["dedup_clusters"](spark, SF_ORACLE).collect()
    }
    assert got == expect


def test_lsh_near_dup_subset_and_measured_recall(spark):
    """The LSH-blocked pairs must be a subset of the exact pairs with
    identical cosines; recall at cosine 0.45 on this corpus is exactly the
    5/14 pairs whose buckets differ by <=1 bit (documented trade — at true
    near-dup thresholds hyperplane agreement makes recall high)."""
    qs = entrymod.queries()
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in qs["embedding_near_dup"](spark, SF_ORACLE).collect()
    }
    approx = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in qs["lsh_near_dup"](spark, SF_ORACLE).collect()
    }
    assert set(approx) <= set(exact)
    assert all(exact[k] == v for k, v in approx.items())
    assert len(approx) == 5 and len(exact) == 14


def test_incremental_agg_merge_is_two_sided(spark):
    """The incremental-maintenance demo must actually merge: both the
    'stored' (pre-cutoff) and 'late' (post-cutoff) partials contribute
    rows, and some (day, type) groups receive rows from only one side."""
    from data_lakehouse_hygiene_spark.schemas import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_ORACLE, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    n_before = ev.where(F.col("ts") < cutoff).count()
    n_after = ev.where(F.col("ts") >= cutoff).count()
    assert n_before > 0 and n_after > 0
    total = entrymod.queries()["incremental_agg"](spark, SF_ORACLE)
    assert total.agg(F.sum("n")).collect()[0][0] == n_before + n_after


def test_chunk_documents_edges(spark):
    """Short docs yield one full-copy chunk; chunk windows overlap by
    size - stride tokens; truncated tails keep their true length."""
    from data_lakehouse_hygiene_spark.operators import text as text_ops

    rows = [(1, "one two three"), (2, " ".join(f"t{i}" for i in range(95)))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert (text_ops.CHUNK_TOKENS, text_ops.CHUNK_STRIDE) == (50, 40)
    out = text_ops.chunk_documents(df).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_text"] == "one two three"
    c2 = sorted(by_doc[2], key=lambda r: r["chunk_id"])
    assert [r["n_tokens"] for r in c2] == [50, 50, 15]  # 95 tokens, stride 40
    assert c2[0]["chunk_text"].split()[40:] == c2[1]["chunk_text"].split()[:10]


def test_pack_sequences_offsets(spark):
    """Bin totals must cover every token exactly once and bins must be
    assigned by running offset."""
    from data_lakehouse_hygiene_spark.operators import text as text_ops

    rows = [(i, " ".join(["w"] * 1000)) for i in range(10)]  # 1000 tokens each
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert text_ops.PACK_BUDGET == 2048
    out = {r["bin_id"]: r for r in text_ops.pack_sequences(df).collect()}
    # offsets 0,1000,...,9000 -> bins 0,0,0,1,1,2,2,3,3,4
    assert {b: out[b]["n_docs"] for b in sorted(out)} == {0: 3, 1: 2, 2: 2, 3: 2, 4: 1}
    assert sum(r["total_tokens"] for r in out.values()) == 10_000


def test_contamination_finds_planted_pairs_of_benchmark(spark):
    """Docs that are near-duplicates of benchmark docs (doc_id < 10) must
    surface with high shared-shingle counts."""
    qs = entrymod.queries()
    planted = _pairs(qs["ngram_jaccard"](spark, SF_ORACLE))
    bench_partners = {b for a, b in planted if a < 10} | {
        a for a, b in planted if b < 10
    }
    bench_partners -= set(range(10))
    contaminated = {
        r["doc_id"]
        for r in qs["contamination_check"](spark, SF_ORACLE).collect()
        if r["n_shared_shingles"] >= 10
    }
    assert bench_partners <= contaminated


def test_decode_media_golden_bmp():
    """Decoder must read fields from the BYTES (hand-crafted golden
    payload, not produced by make_bmp): 2x1 24-bit BMP."""
    golden = (
        b"BM"
        + (62).to_bytes(4, "little")  # file size: 54 + 8
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + (2).to_bytes(4, "little", signed=True)  # width
        + (1).to_bytes(4, "little", signed=True)  # height
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")  # bpp
        + (0).to_bytes(4, "little")
        + (8).to_bytes(4, "little")
        + b"\x00" * 16
        + b"\x01\x02\x03\x04\x05\x06\x00\x00"  # 2 px + pad to 8
    )
    d = multimodal.decode_media(golden, "image/bmp")
    assert (d["width"], d["height"], d["bpp"]) == (2, 1, 24)


def test_decode_media_roundtrip_and_errors():
    d = multimodal.decode_media(multimodal.make_bmp(7, 3, seed=5), "image/bmp")
    assert (d["width"], d["height"], d["bpp"]) == (7, 3, 24)
    d = multimodal.decode_media(multimodal.make_wav(16000, 123, seed=9), "audio/wav")
    assert (d["sample_rate"], d["n_channels"], d["n_samples"]) == (16000, 1, 123)
    with pytest.raises(ValueError):
        multimodal.decode_media(b"BM" + b"\x00" * 10, "image/bmp")
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"\x89PNG", "image/png")


def test_approx_quantiles_within_tolerance(spark):
    """Every sketch quantile must sit inside its exact 1%-rank envelope
    (the query computes the verdict; here we assert it holds)."""
    rows = entrymod.queries()["approx_quantiles"](spark, SF_ORACLE).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["lo_bound"] <= r["hi_bound"]
        assert r["within_bound"], r


def test_substring_dedup_planted_spans(spark):
    """Recall on planted duplicate spans: two documents sharing a 12-token
    run (inside otherwise-unique text) must each get exactly one span
    covering precisely the planted token range; fully unique documents
    must produce no spans. Also: a span duplicated WITHIN one document
    must be found twice in that document."""
    shared = " ".join(f"dup{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"a{i}" for i in range(10)) + " " + shared),
            (2, shared + " " + " ".join(f"b{i}" for i in range(10))),
            (3, " ".join(f"c{i}" for i in range(30))),
            (4, shared + " mid " + shared),
        ],
        "doc_id bigint, text string",
    )
    rows = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.substring_dedup_spans(docs, min_tokens=8).collect()
    }
    # doc 1: tokens 10..22 are the planted run; doc 2: tokens 0..12.
    assert (1, 10, 22) in rows
    assert (2, 0, 12) in rows
    # doc 4 repeats the run at offsets 0 and 13 (separated by 'mid', so
    # the runs don't overlap and must stay two spans).
    assert (4, 0, 12) in rows and (4, 13, 25) in rows
    assert not any(d == 3 for d, _, _ in rows)
    assert len(rows) == 4


def test_substring_dedup_no_false_spans_on_unique_corpus(spark):
    """A corpus of fully distinct token streams yields zero spans."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(40))) for i in range(20)],
        "doc_id bigint, text string",
    )
    assert dedup.substring_dedup_spans(docs, min_tokens=8).count() == 0


def test_substring_dedup_apply_cuts_planted_spans(spark):
    """Applying span dedup must remove exactly the planted duplicated
    tokens from every occurrence and leave unique documents byte-for-byte
    untouched."""
    shared = " ".join(f"dup{i}" for i in range(12))
    uniq3 = " ".join(f"c{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"a{i}" for i in range(10)) + " " + shared),
            (2, shared + " " + " ".join(f"b{i}" for i in range(10))),
            (3, uniq3),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_tokens_removed"])
        for r in dedup.substring_dedup_apply(docs, min_tokens=8).collect()
    }
    assert out[1] == (" ".join(f"a{i}" for i in range(10)), 12)
    assert out[2] == (" ".join(f"b{i}" for i in range(10)), 12)
    assert out[3] == (uniq3, 0)


def test_substring_dedup_keep_first_retains_one_copy(spark):
    """Keep-one policy: the globally first occurrence (smallest
    (doc_id, pos)) of a duplicated run survives; every later occurrence —
    in other documents or later in the same document — is cut."""
    shared = " ".join(f"dup{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, shared + " " + " ".join(f"a{i}" for i in range(10))),
            (2, shared + " " + " ".join(f"b{i}" for i in range(10))),
            (4, shared + " mid " + shared),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_tokens_removed"])
        for r in dedup.substring_dedup_keep_first(docs, min_tokens=8).collect()
    }
    # doc 1 holds the first occurrence -> untouched
    assert out[1] == (shared + " " + " ".join(f"a{i}" for i in range(10)), 0)
    # doc 2's copy is redundant -> cut
    assert out[2] == (" ".join(f"b{i}" for i in range(10)), 12)
    # doc 4: its first copy is redundant vs doc 1, its second redundant too
    assert out[4] == ("mid", 24)


def test_ngram_jaccard_plan_shapes_value_identical(spark, monkeypatch):
    """The two ngram_jaccard plan shapes (broadcast size table vs
    single-scan windowed sizes — selected by estimated input size against
    NGRAM_SINGLE_SCAN_BYTES, patched here to force each arm) must produce
    identical (doc_a, doc_b, jaccard) rows."""
    docs = load_table(spark, SF_ORACLE, "documents")

    def arm(crossover):
        monkeypatch.setattr(dedup, "NGRAM_SINGLE_SCAN_BYTES", crossover)
        df = dedup.ngram_jaccard_pairs(docs)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return {tuple(r) for r in df.collect()}, plan

    bcast, bplan = arm(1 << 62)
    single, splan = arm(-1)
    assert "BroadcastHashJoin" in bplan and "Window" not in bplan
    assert "Window" in splan and "BroadcastHashJoin" not in splan
    assert bcast == single and bcast


def test_ngram_size_heuristic_picks_broadcast_at_test_scale(spark):
    """At sf0.01 the estimated input is far below the crossover, so the
    size gate must select the broadcast form; the estimator must return a
    real positive size for a parquet scan."""
    docs = load_table(spark, SF_ORACLE, "documents")
    est = cleaning._estimated_bytes(docs)
    assert 0 < est < dedup.NGRAM_SINGLE_SCAN_BYTES


def test_ann_recall_deterministic_and_pinned(spark):
    """The declared ann_recall diagnostic must be deterministic: on the
    near-uniform synthetic corpus the true top-5 scatter across buckets,
    so absolute recall is low by construction — what we pin is the exact
    hit counts, so any change to bucketing/probing/clustering surfaces
    as a changed row, not silently."""
    rows = {
        (r["method"], r["query_id"]): (r["n_hits"], r["recall_at_5"])
        for r in entrymod.queries()["ann_recall"](spark, SF_ORACLE).collect()
    }
    assert len(rows) == 12  # 4 methods x 3 query vectors
    by_method = {}
    for (meth, _), (h, _) in rows.items():
        by_method[meth] = by_method.get(meth, 0) + h
    # pq out-recalls the bucketed paths here: ADC scans every code, so
    # only quantization (not bucketing) loses neighbors; ivfpq's probe
    # keeps exactly ivf's cell-local hits (same coarse cells, and the
    # ADC ranking recovers the same in-cell true neighbors here)
    assert by_method == {"ivf": 2, "lsh": 1, "pq": 4, "ivfpq": 2}
    for (_, _), (h, rec) in rows.items():
        assert rec == h / 5.0


def test_simhash_band_geometry_knob_exact_at_reduced_radius(spark):
    """The radius-derived band geometry (lower radius -> wider bands ->
    smaller buckets) must stay EXACT: max_hamming=3 (4x16-bit bands)
    must return precisely the default 8x8-bit result filtered to
    hamming <= 3 (both are pigeonhole-complete at h<=3)."""
    docs = load_table(spark, SF_ORACLE, "documents")
    wide = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_dup_pairs(
            docs, max_hamming=3
        ).collect()
    }
    default = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_dup_pairs(docs).collect()
        if r["hamming"] <= 3
    }
    assert wide == default and wide


def test_semantic_dedup_drops_exactly_in_cluster_pairs(spark):
    """SemDeDup must drop precisely the exact-near-dup pairs that share a
    coarse cluster (2 of 14 on this fixture) — the cross-cluster misses
    are the algorithm's published blocking trade, and the kept/dropped
    split must be reproducible from embedding_near_dup + labels."""
    from data_lakehouse_hygiene_spark.schemas import load_table

    qs = entrymod.queries()
    emb = load_table(spark, SF_ORACLE, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    exact = [
        (r["vec_a"], r["vec_b"])
        for r in qs["embedding_near_dup"](spark, SF_ORACLE).collect()
    ]
    same_cluster_drops = {b for a, b in exact if labels[a] == labels[b]}
    dropped = {r["vec_id"] for r in qs["semantic_dedup"](spark, SF_ORACLE).collect()}
    assert dropped == same_cluster_drops and dropped


def test_dedup_recall_pinned(spark):
    """Both approximate pair miners recover the exact n-gram Jaccard
    truth set perfectly on the fixture corpus (planted near-dup pairs are
    well inside every band/cap envelope) — pinned so a banding, cap, or
    knob regression surfaces as a changed row, the way ann_recall pins
    retrieval quality."""
    import __spark_entry__ as m

    rows = {
        r["method"]: r
        for r in m.queries()["dedup_recall"](spark, SF_ORACLE).collect()
    }
    assert set(rows) == {"minhash", "simhash"}
    for r in rows.values():
        assert (r["n_pred"], r["n_truth"], r["n_hit"]) == (25, 25, 25)
        assert r["precision_q"] == 1.0 and r["recall_q"] == 1.0

"""Round-9 regression tests: the advisor's findings on the robust-stats
dispatch (unknown-stats sentinel, >10k-group fallback, NULL semantics,
rank_select overflow geometry) and the dist_drift NULL-bin skew."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------ _estimated_bytes sentinel


def test_estimated_bytes_sentinel_is_unknown_not_huge(spark):
    """createDataFrame-backed plans have no file stats; Catalyst surfaces
    spark.sql.defaultSizeInBytes (Long.MaxValue). That must read as
    "unknown" -> 0 -> the small-input plan, not as a genuine huge size."""
    from data_lakehouse_hygiene_spark.operators.cleaning import _estimated_bytes

    df = spark.createDataFrame([(1, "a")], ["id", "s"])
    assert _estimated_bytes(df) == 0


def test_estimated_bytes_file_backed_is_real(spark):
    from data_lakehouse_hygiene_spark.operators.cleaning import _estimated_bytes
    from .conftest import SF_SMOKE

    df = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    est = _estimated_bytes(df)
    assert 0 < est < (1 << 40)


# ------------------------------------- >10k-group dispatch falls back cleanly


def test_mad_outliers_high_cardinality_falls_back_to_window_plan(spark):
    """Forcing the select path onto a >RANK_SELECT_MAX_GROUPS key must
    fall back to the rank-window plan, not crash with the internal
    helper's ValueError."""
    from data_lakehouse_hygiene_spark.operators import aggregates as A

    n_groups = A.RANK_SELECT_MAX_GROUPS + 5
    df = spark.range(n_groups).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    old = A.ROBUST_SELECT_BYTES
    A.ROBUST_SELECT_BYTES = 0  # force the select path's dispatch
    try:
        out = A.mad_outliers(df, "k", "v", "event_id")
        # 1 row per group -> MAD 0, no row beats 3*0 deviation strictly
        assert out.count() == 0
        outw = A.winsorize(df, "k", "v", "event_id")
        assert outw.count() == n_groups
    finally:
        A.ROBUST_SELECT_BYTES = old


# --------------------------------------------------- NULL-value semantics


def _mad_rows(A, df):
    return sorted(
        tuple(r) for r in A.mad_outliers(df, "k", "v", "event_id").collect()
    )


def test_robust_stats_null_values_excluded_and_plans_agree(spark):
    from data_lakehouse_hygiene_spark.operators import aggregates as A

    rows = [(i, "g", float(v)) for i, v in enumerate([1, 2, 3, 4, 100])]
    rows += [(10 + i, "g", None) for i in range(4)]  # NULLs must not shift
    rows += [(20, "allnull", None), (21, "allnull", None)]
    df = spark.createDataFrame(rows, "event_id long, k string, v double")
    clean = spark.createDataFrame(
        rows[:5], "event_id long, k string, v double"
    )

    # window plan: NULLs excluded == same answer as the NULL-free frame
    assert _mad_rows(A, df) == _mad_rows(A, clean)
    med = {r["k"]: r["median"] for r in A.group_median(df, "k", "v").collect()}
    assert med == {"g": 3.0}  # no "allnull" row, NULLs don't shift g

    w = sorted(
        tuple(r)
        for r in A.winsorize(
            df, "k", "v", "event_id", lower_pct=0.2, upper_pct=0.8
        ).collect()
    )
    assert all(r[2] is not None for r in w)  # no NULL-val rows in output

    # select plan agrees on the same NULL-bearing frame
    old = A.ROBUST_SELECT_BYTES
    A.ROBUST_SELECT_BYTES = 0
    try:
        assert _mad_rows(A, df) == _mad_rows(A, clean)
        ws = sorted(
            tuple(r)
            for r in A.winsorize(
                df, "k", "v", "event_id", lower_pct=0.2, upper_pct=0.8
            ).collect()
        )
        assert ws == w
    finally:
        A.ROBUST_SELECT_BYTES = old


# --------------------------------------------- rank_select overflow geometry


def test_rank_select_survives_double_span_overflow(spark):
    """A group spanning ~[-1.7e308, 1.7e308] makes hi-lo overflow to +inf;
    the half-scaled bucket arithmetic must still converge exactly."""
    from data_lakehouse_hygiene_spark.operators import aggregates as A

    big = 1.7e308
    rows = [
        (0, "g", -big), (1, "g", -1.0), (2, "g", 0.0), (3, "g", 2.0),
        (4, "g", big),
    ]
    df = spark.createDataFrame(rows, "event_id long, k string, v double")
    sel = A.rank_select(
        df, "k", "v", {"med": lambda c: (c + 1) // 2, "max": lambda c: c}
    )
    assert sel[("g", "med")] == 0.0
    assert sel[("g", "max")] == big


def test_rank_select_bad_rank_raises_valueerror(spark):
    from data_lakehouse_hygiene_spark.operators import aggregates as A

    df = spark.createDataFrame(
        [(0, "g", 1.0), (1, "g", 2.0)], "event_id long, k string, v double"
    )
    with pytest.raises(ValueError):
        A.rank_select(df, "k", "v", {"bad": lambda c: c + 1})


# ----------------------------------------------------- dist_drift NULL bins


def test_dist_drift_nulls_excluded(spark):
    from data_lakehouse_hygiene_spark import maintenance

    rows = [("a", float(v)) for v in [1, 2, 3, 101, 102]]
    rows += [("a", None)] * 10  # pre-fix: inflated n and missing-bin mass
    rows += [("b", float(v)) for v in [1, 2, 3, 101, 102]]
    rows += [("onlynull", None)] * 3
    df = spark.createDataFrame(rows, "source string, n_chars double")
    out = {
        r["source"]: r
        for r in maintenance.dist_drift(
            df, "source", "n_chars", 100.0
        ).collect()
    }
    # all-NULL group vanishes BY CONTRACT (it has no histogram mass)
    assert set(out) == {"a", "b"}
    # identical non-NULL distributions -> identical n and chi2 == 0
    assert out["a"]["n"] == out["b"]["n"] == 5
    assert out["a"]["chi2"] == out["b"]["chi2"] == 0.0


# ------------------------------------- cosine_pairs oversized-cluster split


def test_cosine_pairs_split_path_matches_catalyst(spark, monkeypatch):
    """Forcing tiny blocks (k = 4 clusters, 16-row block target) makes
    every cluster oversize and exercises the hash-split sub-block
    expansion; the pair set must still equal the pure-Catalyst witness
    bit-for-bit (splitting is plan shape only)."""
    from data_lakehouse_hygiene_spark.operators import similarity

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    monkeypatch.setattr(similarity, "COSINE_SMALL_BYTES", 0)
    monkeypatch.setattr(similarity, "N_BLOCKS", 4)
    monkeypatch.setattr(similarity, "KMEANS_MAX_BLOCKS", 4)
    monkeypatch.setattr(similarity, "BLOCK_TARGET_ROWS", 16)
    got = sorted(tuple(r) for r in similarity.cosine_pairs(df).collect())
    want = sorted(
        tuple(r) for r in similarity.cosine_pairs_catalyst(df).collect()
    )
    assert got == want and len(got) > 0


def test_cosine_pairs_auto_blocks_matches_catalyst(spark, monkeypatch):
    """The default auto-sized block count on the forced cluster path must
    reproduce the witness (self-sizing is plan shape only)."""
    from data_lakehouse_hygiene_spark.operators import similarity

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    monkeypatch.setattr(similarity, "COSINE_SMALL_BYTES", 0)
    got = sorted(tuple(r) for r in similarity.cosine_pairs(df).collect())
    want = sorted(
        tuple(r) for r in similarity.cosine_pairs_catalyst(df).collect()
    )
    assert got == want and len(got) > 0


# --------------------------------------------------------------- IVF x PQ


def test_ivfpq_ann_is_pq_restricted_to_probed_cell(spark):
    """ivfpq == pq_ann candidates filtered to the query's coarse cell:
    for each query, the ivfpq result must equal re-ranking the pq ADC
    scores of same-label vectors only."""
    from data_lakehouse_hygiene_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    # unranked ADC scores from the full-scan path (big k to keep all)
    allscores = {
        (r["query_id"], r["vec_id"]): r["adc"]
        for r in similarity.pq_ann(emb, k=1 << 30).collect()
    }
    want = {}
    for qid in (0, 1, 2):
        cell = labels[qid]
        cand = sorted(
            (adc, vid)
            for (q, vid), adc in allscores.items()
            if q == qid and labels[vid] == cell
        )
        for rank, (adc, vid) in enumerate(cand[:5], start=1):
            want[(qid, vid)] = (adc, rank)
    got = {
        (r["query_id"], r["vec_id"]): (r["adc"], r["rank"])
        for r in similarity.ivfpq_ann(emb).collect()
    }
    assert got == want and len(got) > 0


def test_ivfpq_ann_probe_is_broadcast_join(spark):
    """The IVF probe must be a broadcast equi-join on the cell label —
    no SortMergeJoin, no Cartesian."""
    from data_lakehouse_hygiene_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    plan = similarity.ivfpq_ann(emb)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


# ----------------------------------------------- simhash MIH auto geometry


def test_simhash_mih_auto_width_preserves_pair_set(spark):
    """mih_bands picks the widest feasible geometry from the radius
    (per-band radius 1: 2x32-bit at h<=3, 4x16-bit at h<=7; radius 0:
    2, 4 or 8 bands; never fewer bands than 32-bit lanes); both MIH
    geometries must emit exactly the banded plan's pair set on the
    fixture corpus, and h = 8 is refused by all three families."""
    from data_lakehouse_hygiene_spark.operators import dedup as D
    from data_lakehouse_hygiene_spark.operators.multimodal import (
        media_near_dup,
    )

    assert D.mih_bands(3) == 2
    assert D.mih_bands(7) == 4
    assert [D.mih_bands(h, 1) for h in range(8)] == [2] * 4 + [4] * 4
    assert [D.mih_bands(h, 0) for h in range(8)] == [2] * 2 + [4] * 2 + [8] * 4
    assert [D.mih_bands(h, 1, 4) for h in range(8)] == [4] * 8
    assert [D.mih_bands(h, 0, 4) for h in range(8)] == [4] * 4 + [8] * 4
    for radius in (0, 1):
        for lanes in (2, 4):
            with pytest.raises(ValueError):
                D.mih_bands(8, radius, lanes)

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    with pytest.raises(ValueError):
        D.simhash_near_dup_pairs(docs, max_hamming=8)
    with pytest.raises(ValueError):
        D.simhash128_near_dup_pairs(docs, max_hamming=8)
    fp = spark.createDataFrame(
        [(1, "image/bmp", 5)], "doc_id long, media_type string, phash long"
    )
    for n_assets in (1, None):  # the banded and the MIH arm
        with pytest.raises(ValueError):
            media_near_dup(fp, max_hamming=8, n_assets=n_assets)

    for h in (3, 7):
        banded = sorted(
            tuple(r)
            for r in D.simhash_near_dup_pairs(docs, max_hamming=h).collect()
        )
        old = D.SIMHASH_MIH_BYTES
        D.SIMHASH_MIH_BYTES = 0
        try:
            mih = sorted(
                tuple(r)
                for r in D.simhash_near_dup_pairs(
                    docs, max_hamming=h
                ).collect()
            )
        finally:
            D.SIMHASH_MIH_BYTES = old
        assert mih == banded and len(mih) > 0


# ------------------------------------------------- shard_assign / global_rank


def test_global_rank_matches_single_window_and_is_layout_invariant(spark):
    from data_lakehouse_hygiene_spark.operators import sampling

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    order = [F.col("n_chars").desc(), F.col("doc_id").asc()]
    got = {
        r["doc_id"]: r["rank"]
        for r in sampling.global_rank(
            docs.select("doc_id", "n_chars"), order,
            bucket_on=("n_chars", False),
        ).collect()
    }
    rows = sorted(
        ((r["n_chars"], r["doc_id"]) for r in docs.select("doc_id", "n_chars").collect()),
        key=lambda t: (-t[0], t[1]),
    )
    want = {doc: i + 1 for i, (_, doc) in enumerate(rows)}
    assert got == want
    # layout-invariant: a different n_parts produces identical ranks
    got3 = {
        r["doc_id"]: r["rank"]
        for r in sampling.global_rank(
            docs.select("doc_id", "n_chars"), order, n_parts=3,
            bucket_on=("n_chars", False),
        ).collect()
    }
    assert got3 == want


def test_shard_assign_balances_sizes(spark):
    from data_lakehouse_hygiene_spark.operators import sampling

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = sampling.shard_assign(docs, 8).collect()
    assert len(out) == docs.count()
    totals = {}
    for r in out:
        totals[r["shard"]] = totals.get(r["shard"], 0) + r["n_chars"]
    assert set(totals) == set(range(8))
    assert max(totals.values()) / min(totals.values()) < 1.05


def test_shard_assign_has_no_single_task_global_window(spark, monkeypatch):
    """Above the per-bucket byte budget, the plan must not funnel the
    DATA through a global (empty-partition-spec) window — the whole
    point of the two-phase rank. Round 14: the per-bucket row_number
    window is partitioned by the explicit percentile-derived ``__bkt``
    column (one data shuffle; see ``sampling.global_rank``); the
    start-offset cumulative sum is allowed to be a global window
    because its input is the ≤ n_parts-row per-bucket COUNT aggregate,
    never the data. Below the budget a single-task window IS the chosen
    plan (the budget bounds what one task sorts), so the partitioned
    shape is pinned with the budget shrunk under the fixture size."""
    from data_lakehouse_hygiene_spark.operators import sampling

    monkeypatch.setattr(sampling, "GR_BYTES_PER_BUCKET", 1 << 10)
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = (
        sampling.shard_assign(docs, 8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re
    data_windows = 0
    for mline in re.finditer(r"Window \[.*", plan):
        line = mline.group(0)
        if "n_chars" in line:  # the window over raw data rows
            data_windows += 1
            assert "__bkt" in line
    assert data_windows >= 1


# --------------------------------------------- ngram_counts / BPE (r9 adds)


def test_ngram_counts_matches_manual(spark):
    from collections import Counter

    from data_lakehouse_hygiene_spark.operators import text as T

    rows = [
        (1, "a b c a b c a b"),
        (2, "a b c"),
        (3, "x y"),          # < 3 tokens: contributes nothing
        (4, "a b c d"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["ngram"]: r["cnt"]
        for r in T.ngram_counts(docs, n=3, min_count=2).collect()
    }
    want = Counter()
    for _, t in rows:
        ts = t.split(" ")
        for i in range(len(ts) - 2):
            want[" ".join(ts[i : i + 3])] += 1
    want = {g: c for g, c in want.items() if c >= 2}
    assert got == want
    assert "x y" not in got  # short doc contributed no (whole-text) gram


def test_bpe_merge_word_leftmost_overlap(spark):
    from data_lakehouse_hygiene_spark.operators.text import _bpe_merge_word

    ranks = {("a", "a"): 0}
    assert _bpe_merge_word("aaa", ranks) == ("aa", "a")
    assert _bpe_merge_word("aaaa", ranks) == ("aa", "aa")
    # rank order wins over position: (b,c) elected before (a,b)
    ranks2 = {("a", "b"): 1, ("b", "c"): 0}
    assert _bpe_merge_word("abc", ranks2) == ("a", "bc")


def test_bpe_train_hand_computed_merges(spark):
    from data_lakehouse_hygiene_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "ab ab ab ac")], ["doc_id", "text"]
    )
    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in T.bpe_train(docs, n_merges=5)
        .orderBy("rank")
        .collect()
    ]
    # (a,b) carries mass 3, elected first; then (a,c) with 1; then no
    # pairs remain so training stops early despite n_merges=5.
    assert got == [(0, "a", "b", 3), (1, "a", "c", 1)]


def test_bpe_encode_applies_merges_in_rank_order(spark):
    from data_lakehouse_hygiene_spark.operators import text as T

    merges = spark.createDataFrame(
        [(0, "l", "o", 9), (1, "lo", "w", 5)],
        "rank int, left string, right string, pair_count bigint",
    )
    docs = spark.createDataFrame(
        [(1, "lowest low"), (2, None)], "doc_id bigint, text string"
    )
    out = {r["doc_id"]: r for r in T.bpe_encode(docs, merges).collect()}
    assert out[1]["bpe_tokens"] == ["low", "e", "s", "t", "low"]
    assert out[1]["n_bpe_tokens"] == 5
    assert out[2]["bpe_tokens"] is None
    assert out[2]["n_bpe_tokens"] is None


def test_bpe_train_encode_roundtrip_on_corpus(spark):
    """Corpus-trained merges, applied: per-doc BPE tokens concatenate
    back to the document with spaces removed (merges never cross word
    boundaries), token count never exceeds char count, and training is
    deterministic (two runs elect identical merge tables)."""
    from data_lakehouse_hygiene_spark.operators import text as T
    from .conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    merges = T.bpe_train(docs, n_merges=30)
    m1 = [tuple(r) for r in merges.orderBy("rank").collect()]
    m2 = [
        tuple(r)
        for r in T.bpe_train(docs, n_merges=30).orderBy("rank").collect()
    ]
    assert m1 == m2 and len(m1) == 30
    enc = T.bpe_encode(docs, merges)
    joined = enc.join(docs.select("doc_id", "text"), "doc_id")
    for r in joined.collect():
        assert "".join(r["bpe_tokens"]) == r["text"].replace(" ", "")
        assert r["n_bpe_tokens"] <= len(r["text"])


def test_normalize_text_folds_and_strips(spark):
    """Hand-planted mess → exact expected normalization: NBSP/thin-space
    fold to space, zero-widths vanish, curly quotes/dashes/ellipsis fold
    to ASCII, C0 controls are dropped, runs collapse, ends trim."""
    from data_lakehouse_hygiene_spark.operators.text import normalize_text

    raw = (
        " “Hi”… a​b"
        "‘x’ – y—z \x07\x1fq\x7f\t\n "
    )
    df = spark.createDataFrame([(1, raw), (2, "already clean"), (3, "")],
                               ["doc_id", "text"])
    rows = {r.doc_id: r for r in normalize_text(df).collect()}
    assert rows[1].norm_text == '"Hi"... ab\'x\' - y-z q'
    assert rows[1].n_chars_raw == len(raw)
    assert rows[1].n_chars_norm == len(rows[1].norm_text)
    assert rows[2].norm_text == "already clean"
    assert rows[3].norm_text == ""
    assert rows[3].n_chars_norm == 0


def test_normalize_text_is_shuffle_free(spark):
    """The normalization chain must stay per-row column algebra — no
    Exchange anywhere in the physical plan."""
    from data_lakehouse_hygiene_spark.operators.text import normalize_text

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = normalize_text(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_cooccurrence_counts_hand_computed(spark):
    """window=2 over a tiny corpus, every pair hand-counted; unordered
    pair key is lexicographic (least/greatest)."""
    from data_lakehouse_hygiene_spark.operators.text import (
        cooccurrence_counts,
    )

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "b a"), (3, "z")], ["doc_id", "text"]
    )
    # doc1 pairs (i<j<=i+2): (a,b),(a,a),(b,a),(b,c),(a,c)
    #   -> keys: a|b, a|a, a|b, b|c, a|c
    # doc2: (b,a) -> a|b ; doc3: none
    got = {
        (r.tok_a, r.tok_b): r.cnt
        for r in cooccurrence_counts(df, window=2, min_count=1).collect()
    }
    assert got == {
        ("a", "b"): 3,
        ("a", "a"): 1,
        ("b", "c"): 1,
        ("a", "c"): 1,
    }
    # min_count prunes the singletons
    got2 = {
        (r.tok_a, r.tok_b): r.cnt
        for r in cooccurrence_counts(df, window=2, min_count=2).collect()
    }
    assert got2 == {("a", "b"): 3}


def test_cooccurrence_single_agg_exchange(spark):
    """In-row pair generation + ONE map-side-combined aggregate
    exchange (the other Exchange is spread()'s deliberate scan
    repartition) — the positional self-join shape is banned."""
    from data_lakehouse_hygiene_spark.operators.text import (
        cooccurrence_counts,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = cooccurrence_counts(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2
    assert plan.count("REPARTITION_BY_NUM") == 1
    assert "partial_count" in plan  # map-side combine before the exchange
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_normalize_text_idempotent(spark):
    """normalize(normalize(x)) == normalize(x) on corpus + planted mess
    — the contract that makes re-running a cleanup stage safe."""
    from data_lakehouse_hygiene_spark.operators.text import normalize_text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    messy = docs.selectExpr(
        "doc_id",
        "concat(' “x”… ', text, ' —\x07 ') AS text",
    )
    once = normalize_text(messy).selectExpr("doc_id", "norm_text AS text")
    twice = normalize_text(once)
    diff = (
        once.select("doc_id", F.col("text").alias("norm_text"))
        .exceptAll(twice.select("doc_id", "norm_text"))
        .count()
    )
    assert diff == 0


def test_collocation_lift_hand_computed(spark):
    """lift = cnt_ab*N / (cnt_a*cnt_b) on a corpus where 'x y' is a
    strong collocation and 'a b' is background."""
    from data_lakehouse_hygiene_spark.operators.text import collocation_lift

    df = spark.createDataFrame(
        [(1, "x y a"), (2, "x y b"), (3, "a b x"), (4, "b a y")],
        ["doc_id", "text"],
    )
    # N = 12 tokens. ucnt: x=3, y=3, a=3, b=3.
    # window=1 adjacent pairs: doc1 (x,y),(a,y); doc2 (x,y),(b,y);
    # doc3 (a,b),(b,x); doc4 (a,b),(a,y)
    # cnt: x|y=2, a|y=2, b|y=1, a|b=2, b|x=1
    # lift(x,y) = 2*12/(3*3) = 2.666667 ; same for a|y and a|b.
    rows = {
        (r.tok_a, r.tok_b): (r.cnt_ab, r.lift)
        for r in collocation_lift(
            df, window=1, min_count=2, min_lift=0.0
        ).collect()
    }
    assert rows == {
        ("x", "y"): (2, 2.666667),
        ("a", "y"): (2, 2.666667),
        ("a", "b"): (2, 2.666667),
    }
    # min_lift filters: threshold above 2.67 leaves nothing
    assert (
        collocation_lift(df, window=1, min_count=2, min_lift=3.0).count()
        == 0
    )


# ----------------------------------------------------------- media phash


def _build_bmp(w, h, pix):
    stride = (3 * w + 3) // 4 * 4
    out = bytearray(stride * h)
    for y in range(h):
        for x in range(w):
            b, g, r = pix(x, y)
            i = y * stride + 3 * x
            out[i : i + 3] = bytes((b, g, r))
    size = 54 + len(out)
    hdr = (
        b"BM" + size.to_bytes(4, "little") + b"\0\0\0\0"
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(out).to_bytes(4, "little")
        + b"\0" * 16
    )
    return bytes(hdr) + bytes(out)


def _ham(a, b):
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_phash_survives_resize_and_decimation():
    """The whole point of a perceptual hash: a resized image / decimated
    audio clip stays within a few Hamming bits of the original, while a
    different asset lands far away."""
    from data_lakehouse_hygiene_spark.operators.multimodal import (
        _decimate_wav, _phash_bmp, _phash_wav, _resize_bmp, make_wav,
    )

    grad = _build_bmp(64, 48, lambda x, y: ((x * 4) % 256, (y * 5) % 256,
                                            ((x + y) * 3) % 256))
    checker = _build_bmp(
        64, 48, lambda x, y: (255 if (x // 16 + y // 12) % 2 else 0,) * 3
    )
    hg, hc = _phash_bmp(grad), _phash_bmp(checker)
    assert _ham(hg, _phash_bmp(_resize_bmp(grad, 2))) <= 8
    assert _ham(hc, _phash_bmp(_resize_bmp(checker, 2))) <= 8
    assert _ham(hg, hc) >= 15

    wav = make_wav(8000, 4000, seed=7)
    other = make_wav(8000, 4000, seed=99)
    hw = _phash_wav(wav)
    assert _ham(hw, _phash_wav(_decimate_wav(wav, 4))) <= 6
    assert _ham(hw, _phash_wav(other)) >= 20


def test_phash_fixture_values_pinned():
    """Exact fingerprints on fixed fixtures — regression pin so a kernel
    change that silently shifts every hash is caught."""
    from data_lakehouse_hygiene_spark.operators.multimodal import (
        _phash_bmp, _phash_wav, make_bmp, make_wav,
    )

    assert _phash_bmp(make_bmp(64, 48, seed=7)) == 0x2922002200320032
    assert _phash_wav(make_wav(8000, 4000, seed=7)) == 0x319999999998CCCC


def test_media_phash_frame(spark):
    """End-to-end over the Arrow mapInPandas path: one signed 64-bit
    fingerprint per payload, both modalities."""
    from data_lakehouse_hygiene_spark.operators import multimodal

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = multimodal.synthesize_media(docs.limit(40))
    out = multimodal.media_phash(media).collect()
    assert len(out) == 40
    assert {r.media_type for r in out} == {"image/bmp", "audio/wav"}
    assert all(isinstance(r.phash, int) for r in out)


def test_media_near_dup_recovers_planted_variants(spark):
    """Recall/precision of the banded Hamming miner on structured media:
    every planted resized/decimated variant pairs with its source, and
    no pair crosses distinct assets (measured asset separation is >=21
    bits, far outside the radius)."""
    from data_lakehouse_hygiene_spark.operators import multimodal

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(120)
    base = multimodal.synthesize_structured_media(docs)
    planted = base.where(F.col("doc_id") % 10 < 2).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000_000)
    )
    variants = multimodal.transform_media(
        planted, scale_div=2, sample_every=4
    )
    fp = multimodal.media_phash(base.unionByName(variants))
    pairs = multimodal.media_near_dup(fp, max_hamming=7).collect()
    planted_ids = sorted(
        r.doc_id for r in docs.where(F.col("doc_id") % 10 < 2).collect()
    )
    expect = {(i, i + 1_000_000_000) for i in planted_ids}
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert got == expect
    # decimated WAV frame energy is floor(a) vs the original's
    # (floor(a)+ceil(a))/2 (uint8 truncation), so adjacent frames within
    # one amplitude unit can flip a single energy-delta bit — observed
    # hamming 1 on one sf0.01 doc; the radius absorbs it by design
    assert all(r.hamming <= 2 for r in pairs)


def test_media_near_dup_band_recall_guarantee(spark):
    """Pigeonhole: a pair at Hamming <= n_bands-1 MUST collide in one
    band — construct fingerprints at exactly distance 7 across band
    boundaries and assert the miner finds them."""
    from data_lakehouse_hygiene_spark.operators.multimodal import (
        media_near_dup,
    )

    base = 0x0123456789ABCDEF
    # flip 7 bits at positions 0,8,16,...,48: under the shipped 4x16-bit
    # MIH bands they land 2/2/2/1, so bands 0-2 sit at distance 2 and
    # only band 3 is within the per-band radius 1 — recovery depends
    # solely on that single distance-1 band (the 4-band worst case)
    flipped = base
    for k in range(7):
        flipped ^= 1 << (8 * k)
    rows = [(1, "image/bmp", base), (2, "image/bmp", flipped),
            (3, "audio/wav", base)]  # same hash, other modality: no pair
    fp = spark.createDataFrame(rows, "doc_id long, media_type string, phash long")
    got = media_near_dup(fp, max_hamming=7).collect()
    assert {(r.doc_a, r.doc_b, r.hamming) for r in got} == {(1, 2, 7)}


def test_snapshot_diff_statuses_and_null_safety(spark):
    """added/removed/changed classification, and the NULL-sentinel
    digest: NULL and '' must be DIFFERENT digests (a naive concat_ws
    silently drops NULLs and conflates them)."""
    from data_lakehouse_hygiene_spark.maintenance import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", None), (5, "e", "z")],
        "id long, t string, s string",
    )
    new = spark.createDataFrame(
        [(1, "a", "x"), (2, "B", "y"), (3, "c", ""), (4, "d", "w")],
        "id long, t string, s string",
    )
    got = {
        (r.id, r.status)
        for r in snapshot_diff(old, new, ["id"], ["t", "s"]).collect()
    }
    # 1 unchanged (absent), 2 changed (case), 3 changed (NULL -> ''),
    # 4 added, 5 removed
    assert got == {(2, "changed"), (3, "changed"), (4, "added"),
                   (5, "removed")}


def test_ivfpq_multiprobe_all_cells_equals_pq_ann(spark):
    """Probing every coarse cell makes the IVF stage a no-op: candidates
    become the whole corpus, so ivfpq(n_probe=n_cells) must reproduce
    pq_ann row-for-row (same codebooks, same ADC, same ties) — the
    multi-probe correctness anchor."""
    from data_lakehouse_hygiene_spark.operators import similarity

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    n_cells = df.select("label").distinct().count()
    full = sorted(
        tuple(r)
        for r in similarity.ivfpq_ann(df, n_probe=n_cells).collect()
    )
    want = sorted(tuple(r) for r in similarity.pq_ann(df).collect())
    assert full == want and len(full) > 0


def test_ivfpq_multiprobe_default_unchanged_and_recall_monotone(spark):
    """n_probe=1 must be byte-identical to the pre-knob behavior (own
    cell only), and widening the probe set must never SHRINK the
    candidate pool: every n_probe=1 result row survives or is displaced
    only by a strictly better (lower-adc / lower-id) candidate."""
    from data_lakehouse_hygiene_spark.operators import similarity

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    one = similarity.ivfpq_ann(df).collect()
    two = similarity.ivfpq_ann(df, n_probe=2).collect()
    best1 = {q: min(r.adc for r in one if r.query_id == q)
             for q in {r.query_id for r in one}}
    best2 = {q: min(r.adc for r in two if r.query_id == q)
             for q in {r.query_id for r in two}}
    assert set(best2) == set(best1)
    for q in best1:
        assert best2[q] <= best1[q]


# ------------------------------------------------------------ heavy hitters


def test_heavy_hitters_exact_vs_full_aggregate(spark):
    """The sketch pass must never lose a true heavy hitter: output ==
    the full-vocabulary GROUP BY ... HAVING answer, under several
    partitionings (the MG guarantee is per-partition, so partitioning
    is the adversarial axis)."""
    from data_lakehouse_hygiene_spark.operators.aggregates import (
        heavy_hitters,
    )

    # skewed synthetic stream: value i appears ~ 1000/(i+1) times
    rows = [(f"v{i}",) for i in range(60) for _ in range(1000 // (i + 1))]
    df0 = spark.createDataFrame(rows, "token string")
    n = len(rows)
    phi = 0.02
    exact = (
        df0.groupBy("token").count()
        .where(F.col("count") > phi * n)
        .orderBy(F.desc("count"), F.asc("token"))
        .collect()
    )
    want = [(r["token"], r["count"]) for r in exact]
    for parts in (1, 7, 32):
        got = [
            (r["token"], r["cnt"])
            for r in heavy_hitters(
                df0.repartition(parts), "token", phi=phi
            ).collect()
        ]
        assert got == want, f"parts={parts}"
    assert len(want) >= 5  # fixture exercises a non-trivial hitter set


def test_heavy_hitters_nulls_excluded(spark):
    from data_lakehouse_hygiene_spark.operators.aggregates import (
        heavy_hitters,
    )

    rows = [("a",)] * 50 + [(None,)] * 200 + [("b",)] * 3
    df0 = spark.createDataFrame(rows, "token string")
    got = heavy_hitters(df0, "token", phi=0.5).collect()
    # N = 53 non-null; only 'a' (50) exceeds 0.5*53
    assert [(r["token"], r["cnt"]) for r in got] == [("a", 50)]


# ------------------------------------------- streaming heavy hitters


def test_heavy_hitters_stream_candidates_superset_and_exact(spark):
    """Single availableNow batch: the drained candidate stream must be a
    SUPERSET of the true hitters, and the exact_recount over those
    candidates must equal the full-aggregate answer."""
    from data_lakehouse_hygiene_spark import streaming
    from data_lakehouse_hygiene_spark.operators.aggregates import (
        exact_recount,
    )

    rows = [(f"v{i}",) for i in range(60) for _ in range(1000 // (i + 1))]
    schema = "token string"
    df0 = spark.createDataFrame(rows, schema)
    phi = 0.02
    want = [
        (r["token"], r["count"])
        for r in df0.groupBy("token").count()
        .where(F.col("count") > phi * len(rows))
        .orderBy(F.desc("count"), F.asc("token"))
        .collect()
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        src = td + "/toks"
        df0.write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        cand = streaming.run_to_memory(
            streaming.heavy_hitters_stream(stream, "token", phi=phi),
            output_mode="append",
        )
        cand_set = {r["token"] for r in cand.collect()}
        assert {t for t, _ in want} <= cand_set
        got = [
            (r["token"], r["cnt"])
            for r in exact_recount(df0, "token", cand, phi).collect()
        ]
    assert got == want and len(want) >= 5


def test_heavy_hitters_stream_state_carries_across_batches(spark, tmp_path):
    """Split the stream into 3 micro-batches (one file each,
    maxFilesPerTrigger=1): a value that is NEVER frequent within any
    single batch but is a global hitter must survive the carried MG
    state — the final candidate set still contains it and the recount
    is exact."""
    from data_lakehouse_hygiene_spark import streaming
    from data_lakehouse_hygiene_spark.operators.aggregates import (
        exact_recount,
    )

    schema = "token string"
    # per batch: 'hit' x 40 spread thin among 360 mostly-distinct fillers
    batches = [
        [("hit",)] * 40 + [(f"b{b}_f{i}",) for i in range(360)]
        for b in range(3)
    ]
    all_rows = [r for b in batches for r in b]
    n = len(all_rows)  # 1200; 'hit' = 120 = 10% global, 10% per batch
    phi = 0.05
    for b, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(tmp_path / f"f{b}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "f*"))
    )
    cand = streaming.run_to_memory(
        streaming.heavy_hitters_stream(stream, "token", phi=phi, n_buckets=4),
        output_mode="append",
    )
    assert "hit" in {r["token"] for r in cand.collect()}
    full = spark.createDataFrame(all_rows, schema)
    got = [
        (r["token"], r["cnt"])
        for r in exact_recount(full, "token", cand, phi).collect()
    ]
    assert got == [("hit", 120)]


def test_heavy_hitters_stream_query_matches_batch_query(spark):
    """The declared streaming query equals the batch query row-for-row
    at sf0.001 (same phi, same table)."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in entry.q_streaming_heavy_hitters(spark, sf).collect()]
    want = [tuple(r) for r in entry.q_heavy_hitters(spark, sf).collect()]
    assert got == want and len(want) > 0


def test_media_near_dup_mih_equals_brute_force(spark):
    """The MIH plan (16-bit bands + single-bit-flip variants, >= 1 exact
    side per candidate) must return EXACTLY the brute-force pair set
    {a<b : hamming <= 7} on an adversarial fixture: clustered hashes
    (many pairs at assorted distances 0..10), plus cross-modality
    duplicates that must never pair."""
    import itertools
    import random

    from data_lakehouse_hygiene_spark.operators.multimodal import (
        media_near_dup,
    )

    def signed64(u):  # wrap a 64-bit pattern into BIGINT range
        return u - (1 << 64) if u >= (1 << 63) else u

    rng = random.Random(7)
    rows = []
    did = 0
    for _ in range(12):  # 12 clusters of 5 around a seed hash
        seed = rng.getrandbits(64)
        for _ in range(5):
            h = seed
            for _ in range(rng.randrange(0, 11)):  # 0..10 flips
                h ^= 1 << rng.randrange(64)
            rows.append(
                (did, "image/bmp" if did % 2 else "audio/wav", signed64(h))
            )
            did += 1
    def ham(ha, hb):  # popcount over the 64-bit pattern, sign-safe
        return bin((ha ^ hb) & ((1 << 64) - 1)).count("1")

    want = {
        (m, min(a, b), max(a, b), ham(ha, hb))
        for (a, m, ha), (b, mb, hb) in itertools.combinations(rows, 2)
        if m == mb and ham(ha, hb) <= 7
    }
    fp = spark.createDataFrame(
        rows, "doc_id long, media_type string, phash long"
    )
    got = {
        (r.media_type, r.doc_a, r.doc_b, r.hamming)
        for r in media_near_dup(fp, max_hamming=7).collect()
    }
    assert got == want and len(want) >= 20


def test_heavy_hitters_distributed_fallback_equals_collect_path(spark, monkeypatch):
    """Forcing the distributed (no-driver-collect) dispatch must return
    the identical rows: the two plans differ only in where N and the
    candidate set materialize."""
    from data_lakehouse_hygiene_spark.operators import aggregates

    rows = [(f"v{i}",) for i in range(40) for _ in range(400 // (i + 1))]
    df0 = spark.createDataFrame(rows, "token string").repartition(8)
    want = [
        (r["token"], r["cnt"])
        for r in aggregates.heavy_hitters(df0, "token", phi=0.03).collect()
    ]
    monkeypatch.setattr(aggregates, "HH_COLLECT_MAX", 0)
    got = [
        (r["token"], r["cnt"])
        for r in aggregates.heavy_hitters(df0, "token", phi=0.03).collect()
    ]
    assert got == want and len(want) >= 3


# ------------------------------------------------ group heavy hitters


def test_group_heavy_hitters_exact_vs_full_aggregate(spark):
    """Per-group MG must equal the exact per-group GROUP BY ... HAVING
    answer under several partitionings, including a value that is a
    hitter in one group but noise in another."""
    from data_lakehouse_hygiene_spark.operators.aggregates import (
        group_heavy_hitters,
    )

    rows = []
    # group A: 'x' dominates; group B: 'x' is noise, 'y' dominates
    rows += [("A", "x")] * 60 + [("A", f"a{i}") for i in range(40)]
    rows += [("B", "y")] * 50 + [("B", "x")] * 2
    rows += [("B", f"b{i}") for i in range(48)]
    rows += [(None, "x")] * 30 + [("A", None)] * 30  # excluded by contract
    df0 = spark.createDataFrame(rows, "g string, v string")
    phi = 0.2
    exact = (
        df0.where(F.col("g").isNotNull() & F.col("v").isNotNull())
        .groupBy("g", "v").count()
    )
    tot = (
        df0.where(F.col("g").isNotNull() & F.col("v").isNotNull())
        .groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    )
    want = [
        (r["g"], r["v"], r["count"])
        for r in exact.join(tot, "g")
        .where(F.col("count") > phi * F.col("n"))
        .orderBy(F.asc("g"), F.desc("count"), F.asc("v"))
        .collect()
    ]
    assert [t[:2] for t in want] == [("A", "x"), ("B", "y")]
    for parts in (1, 7, 32):
        got = [
            (r["g"], r["v"], r["cnt"])
            for r in group_heavy_hitters(
                df0.repartition(parts), "g", "v", phi=phi
            ).collect()
        ]
        assert got == want, f"parts={parts}"

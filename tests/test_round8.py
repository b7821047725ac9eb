"""Round-8 operators: robust statistics (group_median / mad_outliers /
winsorize), corpus text analytics (char_stats / code_signals /
boilerplate_ngrams), and the simhash multi-index-hashing plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import SF_ORACLE


# ---------------------------------------------------------------- simhash MIH


def test_simhash_mih_planted_pairs_fixture(spark):
    """On the oracle fixture the MIH plan returns exactly the banded
    plan's pair set (which the driver oracle already certifies as the
    brute-force hamming ≤ 7 relation)."""
    from data_lakehouse_hygiene_spark.operators import dedup as D

    df = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    base = sorted(tuple(r) for r in D.simhash_near_dup_pairs(df).collect())
    old = D.SIMHASH_MIH_BYTES
    D.SIMHASH_MIH_BYTES = 0
    try:
        mih = sorted(tuple(r) for r in D.simhash_near_dup_pairs(df).collect())
    finally:
        D.SIMHASH_MIH_BYTES = old
    assert base == mih and len(base) > 0


def test_simhash_mih_r0_geometry(spark):
    """max_hamming ≤ 3 ⇒ per-band radius 0: the MIH plan degenerates to an
    exact 16-bit-band match and still equals the 4-band banded plan."""
    from data_lakehouse_hygiene_spark.operators import dedup as D

    df = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    base = sorted(
        tuple(r)
        for r in D.simhash_near_dup_pairs(df, max_hamming=3).collect()
    )
    old = D.SIMHASH_MIH_BYTES
    D.SIMHASH_MIH_BYTES = 0
    try:
        mih = sorted(
            tuple(r)
            for r in D.simhash_near_dup_pairs(
                df, max_hamming=3
            ).collect()
        )
    finally:
        D.SIMHASH_MIH_BYTES = old
    assert base == mih


# ------------------------------------------------------------------ char_stats


def test_char_stats_counts_and_simpson(spark):
    from data_lakehouse_hygiene_spark.operators.text import char_stats

    df = spark.createDataFrame(
        [
            (0, "aaaa"),            # mono-character: diversity 0
            (1, "ab12 xy"),         # mixed classes
            (2, "????"),            # all-"other" mono-class: diversity 0
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in char_stats(df).collect()}
    r0 = rows[0]
    assert (r0["n_chars"], r0["n_letters"], r0["char_simpson"]) == (4, 4, 0.0)
    assert r0["n_distinct_chars"] == 1
    r1 = rows[1]
    assert r1["n_letters"] == 4 and r1["n_digits"] == 2
    assert r1["n_spaces"] == 1 and r1["n_other"] == 0
    assert r1["n_distinct_chars"] == 7
    # 7 singleton classes over 7 chars: 1 - 7/49
    assert r1["char_simpson"] == pytest.approx(1 - 7 / 49, abs=1e-6)
    r2 = rows[2]
    assert r2["n_other"] == 4 and r2["char_simpson"] == 0.0
    assert r2["n_distinct_chars"] == 0


# ---------------------------------------------------------------- code_signals


def test_code_signals_routes_code_vs_prose(spark):
    from data_lakehouse_hygiene_spark.operators.text import code_signals

    df = spark.createDataFrame(
        [
            (0, "def f(x): return x + 1;"),
            (1, "the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in code_signals(df).collect()}
    assert rows[0]["doc_class"] == "code"
    assert rows[0]["n_keywords"] >= 1 and rows[0]["n_symbols"] >= 5
    assert rows[1]["doc_class"] == "prose"
    assert rows[1]["n_symbols"] == 0 and rows[1]["n_keywords"] == 0


# ---------------------------------------------------------- boilerplate_ngrams


def test_boilerplate_ngrams_finds_planted_template(spark):
    from data_lakehouse_hygiene_spark.operators.text import boilerplate_ngrams

    banner = "click here to subscribe"
    docs = [(i, f"{banner} unique{i} words{i} body{i}") for i in range(6)]
    docs.append((6, "completely different text entirely here"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = boilerplate_ngrams(df, min_docs=6).collect()
    shingles = {r["shingle"]: (r["n_docs"], r["n_occurrences"]) for r in out}
    assert shingles["click here to"] == (6, 6)
    assert shingles["here to subscribe"] == (6, 6)
    # nothing document-unique crosses the threshold
    assert all(v[0] >= 6 for v in shingles.values())


def test_boilerplate_ngrams_counts_multiplicity(spark):
    from data_lakehouse_hygiene_spark.operators.text import boilerplate_ngrams

    # the phrase occurs twice inside each of 3 docs -> n_docs 3, n_occ 6
    df = spark.createDataFrame(
        [(i, "a b c filler a b c") for i in range(3)], ["doc_id", "text"]
    )
    out = {
        r["shingle"]: (r["n_docs"], r["n_occurrences"])
        for r in boilerplate_ngrams(df, min_docs=3).collect()
    }
    assert out["a b c"] == (3, 6)


# ---------------------------------------------------------------- group_median


def test_group_median_odd_and_even(spark):
    from data_lakehouse_hygiene_spark.operators.aggregates import group_median

    df = spark.createDataFrame(
        [("odd", v) for v in [3.0, 1.0, 2.0]]
        + [("even", v) for v in [10.0, 40.0, 20.0, 30.0]],
        ["k", "v"],
    )
    rows = {r["k"]: r["median"] for r in group_median(df, "k", "v").collect()}
    assert rows["odd"] == 2.0
    assert rows["even"] == 25.0


# ---------------------------------------------------------------- mad_outliers


def test_mad_outliers_flags_planted_spike(spark):
    from data_lakehouse_hygiene_spark.operators.aggregates import mad_outliers

    rows = [(i, "a", float(v)) for i, v in enumerate([10, 11, 12, 13, 14])]
    rows.append((99, "a", 1000.0))  # the spike
    rows += [(100 + i, "b", 5.0) for i in range(4)]  # constant group: MAD 0
    df = spark.createDataFrame(rows, ["event_id", "k", "v"])
    out = mad_outliers(df, "k", "v", "event_id").collect()
    flagged = {r["event_id"] for r in out}
    assert flagged == {99}
    spike = next(r for r in out if r["event_id"] == 99)
    assert spike["med"] == 12.0 and spike["mad"] == 1.0


# ------------------------------------------------------------------- winsorize


def test_winsorize_clips_to_group_percentiles(spark):
    from data_lakehouse_hygiene_spark.operators.aggregates import winsorize

    vals = list(range(1, 21))  # 1..20 -> p05 elem = 1st, p95 elem = 19th
    df = spark.createDataFrame(
        [(i, "g", float(v)) for i, v in enumerate(vals)],
        ["event_id", "k", "v"],
    )
    out = {r["event_id"]: r for r in winsorize(df, "k", "v", "event_id").collect()}
    lo = out[0]["lo_bound"]
    hi = out[0]["hi_bound"]
    # discrete element selection: ceil(20*.05)=1st element, ceil(20*.95)=19th
    # (0.05/0.95 are binary doubles slightly above/below, ceil handles both)
    assert lo == 1.0 and hi in (19.0, 20.0)
    assert out[19]["clipped"] == hi  # the max row got clipped down
    assert out[0]["clipped"] == lo
    assert all(lo <= r["clipped"] <= hi for r in out.values())


# ------------------------------------------------------ incremental_line_dedup


def test_incremental_line_dedup_history_and_batch(spark):
    from data_lakehouse_hygiene_spark.operators.dedup import (
        incremental_line_dedup,
    )

    hist = spark.createDataFrame(
        [(100, "old banner\nkeep me not")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            # line 0 dupes history; line 1 is novel
            (0, "old banner\nfresh content"),
            # line 0 is the batch-first 'shared line'; also has a blank line
            (1, "shared line\n\ntail"),
            # line 0 dupes doc 1's first line (batch-internal, keep-first)
            (2, "shared line\nunique here"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r for r in incremental_line_dedup(new, hist).collect()
    }
    assert rows[0]["clean_text"] == "fresh content"
    assert rows[0]["n_lines_removed"] == 1
    # blank line (below min_chars) always kept; batch-first survives
    assert rows[1]["clean_text"] == "shared line\n\ntail"
    assert rows[1]["n_lines_removed"] == 0
    assert rows[2]["clean_text"] == "unique here"
    assert rows[2]["n_lines_removed"] == 1


# --------------------------------------------------------------- auto n_planes


def test_resolve_planes_auto(spark, monkeypatch):
    from data_lakehouse_hygiene_spark.operators import similarity as S

    small = spark.range(20).withColumnRenamed("id", "vec_id")
    # tiny corpus: auto keeps the static default
    assert S.resolve_planes(small, "auto") == S.N_PLANES
    big = spark.range(300).withColumnRenamed("id", "vec_id")
    # 300 vectors at target occupancy 1 -> ceil(log2(300)) = 9 planes
    monkeypatch.setattr(S, "PLANES_TARGET_OCCUPANCY", 1)
    assert S.resolve_planes(big, "auto") == 9
    # integers pass through untouched; cap binds at 20
    assert S.resolve_planes(small, 12) == 12
    monkeypatch.setattr(S, "PLANES_TARGET_OCCUPANCY", 0.0001)
    huge_target = S.resolve_planes(big, "auto")
    assert huge_target == 20


def test_lsh_near_dup_auto_matches_default_on_small_corpus(spark):
    from data_lakehouse_hygiene_spark.operators import similarity as S
    from .conftest import SF_SMOKE

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    d = sorted(tuple(r) for r in S.lsh_near_dup_pairs(df).collect())
    a = sorted(
        tuple(r) for r in S.lsh_near_dup_pairs(df, n_planes="auto").collect()
    )
    # the smoke corpus is below the auto threshold: identical plan+result
    assert d == a


# -------------------------------------------------------------- source_overlap


def test_source_overlap_matrix(spark):
    from data_lakehouse_hygiene_spark.operators.dedup import source_overlap

    head = "alpha beta gamma delta eps zeta eta theta"
    df = spark.createDataFrame(
        [
            (0, f"{head} tail0", "a"),
            (1, f"{head} tail1", "b"),
            (2, f"{head} tail2", "c"),
            (3, "other text entirely unrelated", "a"),
            (4, "other text entirely unrelated", "b"),
            (5, "short", "a"),  # <8 tokens: fingerprint over all tokens
            (6, "short", "a"),  # same source: no cross-source pair
        ],
        ["doc_id", "text", "source"],
    )
    out = {
        (r["src_a"], r["src_b"]): r["n_shared"]
        for r in source_overlap(df).collect()
    }
    # the 3-source mirror contributes all three pairs; the 2-source exact
    # dup contributes (a,b) again
    assert out == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}


# ------------------------------------------------------- rank_select scale path


def test_rank_select_exact_small(spark):
    from data_lakehouse_hygiene_spark.operators import aggregates as A

    rows = [(i, "g", float(v)) for i, v in enumerate([5, 1, 9, 3, 7])]
    rows += [(10 + i, "h", 2.0) for i in range(4)]  # mass-duplicate group
    df = spark.createDataFrame(rows, ["event_id", "k", "v"])
    sel = A.rank_select(
        df, "k", "v",
        {"med": lambda c: (c + 1) // 2, "max": lambda c: c},
    )
    assert sel[("g", "med")] == 5.0 and sel[("g", "max")] == 9.0
    assert sel[("h", "med")] == 2.0 and sel[("h", "max")] == 2.0


def test_mad_and_winsorize_select_path_equals_window_path(spark):
    from data_lakehouse_hygiene_spark.operators import aggregates as A
    from .conftest import SF_ORACLE

    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    win_mad = sorted(
        tuple(r)
        for r in A.mad_outliers(ev, "event_type", "value", "event_id").collect()
    )
    win_w = sorted(
        tuple(r)
        for r in A.winsorize(ev, "event_type", "value", "event_id").collect()
    )
    old = A.ROBUST_SELECT_BYTES
    A.ROBUST_SELECT_BYTES = 0
    try:
        sel_mad = sorted(
            tuple(r)
            for r in A.mad_outliers(
                ev, "event_type", "value", "event_id"
            ).collect()
        )
        sel_w = sorted(
            tuple(r)
            for r in A.winsorize(
                ev, "event_type", "value", "event_id"
            ).collect()
        )
    finally:
        A.ROBUST_SELECT_BYTES = old
    assert sel_mad == win_mad and len(sel_mad) > 0
    assert sel_w == win_w and len(sel_w) > 0


# ------------------------------------------------- k-center diversity sampling


def test_kcenter_planted_geometry(spark):
    """Three tight clusters + one far outlier: the greedy selection must
    visit all four regions before refining any of them (the k-center
    guarantee), with the coverage radius non-increasing round to round."""
    from data_lakehouse_hygiene_spark.operators.similarity import (
        kcenter_sample,
    )

    def vec(x, y):
        return [float(x), float(y)] + [0.0] * 6

    rows = []
    region = {}
    vid = 0
    for rx, ry, tag in [(0, 0, "a"), (10, 0, "b"), (0, 10, "c"), (50, 50, "far")]:
        for dx in (0.0, 0.01, 0.02):
            rows.append((vid, vec(rx + dx, ry)))
            region[vid] = tag
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = kcenter_sample(df, k=4).orderBy("sel_rank").collect()
    assert [r["sel_rank"] for r in out] == [0, 1, 2, 3]
    assert {region[r["vec_id"]] for r in out} == {"a", "b", "c", "far"}
    dists = [r["dist"] for r in out[1:]]
    assert dists == sorted(dists, reverse=True)  # non-increasing radius


def test_kcenter_fewer_rows_than_k(spark):
    from data_lakehouse_hygiene_spark.operators.similarity import (
        kcenter_sample,
    )

    df = spark.createDataFrame(
        [(7, [1.0, 0.0]), (3, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    out = kcenter_sample(df, k=5).orderBy("sel_rank").collect()
    assert [(r["sel_rank"], r["vec_id"]) for r in out] == [(0, 3), (1, 7)]
    empty = kcenter_sample(df.where("vec_id < 0"), k=3)
    assert empty.count() == 0


def test_kcenter_partition_invariant(spark):
    """Same selection regardless of physical layout (exact integer
    arithmetic + deterministic tie-breaks)."""
    from data_lakehouse_hygiene_spark.operators.similarity import (
        kcenter_sample,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = [tuple(r) for r in kcenter_sample(emb, k=6).collect()]
    b = [
        tuple(r)
        for r in kcenter_sample(emb.repartition(13, "vec_id"), k=6).collect()
    ]
    assert sorted(a) == sorted(b) and len(a) == 6


# ------------------------------------------------- stream-stream interval join


def test_interval_join_stream_matches_batch(spark):
    """Bounded replay of the watermarked stream-stream join reproduces the
    batch interval join exactly (append mode, inner join)."""
    from data_lakehouse_hygiene_spark import streaming
    from .conftest import SF_ORACLE

    ev = streaming.load_stream_table(spark, SF_ORACLE, "events")
    j = streaming.interval_join_stream(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        horizon="1 hour",
    )
    got = sorted(
        tuple(r)
        for r in streaming.run_to_memory(j, output_mode="append").collect()
    )

    b = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    c = b.where("event_type = 'click'").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("cid"),
        F.col("ts").cast("timestamp").alias("cts"),
    )
    p = b.where("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("pid"),
        F.col("ts").cast("timestamp").alias("pts"),
    )
    want = sorted(
        tuple(r)
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.expr("pts - INTERVAL 1 HOUR")),
        )
        .select(
            "cu",
            "cid",
            "pid",
            (F.unix_micros("pts") - F.unix_micros("cts")).alias("lag_us"),
        )
        .collect()
    )
    assert got == want and len(got) > 0
    # every lag inside the horizon
    assert all(0 <= r[3] <= 3_600_000_000 for r in got)


def test_enrich_stream_matches_batch_and_keeps_misses(spark):
    """Stream-static LEFT join: every stream row survives, matched rows
    pick up the dim columns, unmatched rows carry NULLs."""
    from data_lakehouse_hygiene_spark import streaming
    from .conftest import SF_ORACLE

    ev = streaming.load_stream_table(spark, SF_ORACLE, "events")
    cust = spark.read.parquet(f"{SF_ORACLE}/customer.parquet")
    # poke a hole in the dim so the left-join contract is actually tested
    dim = cust.where("c_custkey <> 0")
    out = streaming.run_to_memory(
        streaming.enrich_stream(
            ev, dim, key="user_id", dim_key="c_custkey",
            cols=("c_mktsegment",),
        ).select("event_id", "user_id", "c_mktsegment"),
        output_mode="append",
    )
    n_events = spark.read.parquet(f"{SF_ORACLE}/events.parquet").count()
    assert out.count() == n_events  # no stream row dropped
    misses = out.where("c_mktsegment IS NULL")
    assert misses.count() > 0
    assert misses.where("user_id <> 0").count() == 0  # only the hole misses


# ---------------------------------------------------------------- vocab_encode


def test_vocab_encode_planted_vocab_and_oov(spark):
    from data_lakehouse_hygiene_spark.operators.text import vocab_encode

    df = spark.createDataFrame(
        [
            (0, "b b b a a c"),   # freqs: b=3 a=2 c=1
            (1, "a b rare"),      # 'rare' is OOV at vocab_size=2
            (2, ""),              # empty text -> one '' token, OOV
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in vocab_encode(df, vocab_size=2).collect()}
    # vocab: b -> 0 (freq 3), a -> 1 (freq 2); c/rare/'' -> -1
    assert out[0]["ids"] == [0, 0, 0, 1, 1, -1]
    assert (out[0]["n_tokens"], out[0]["n_unk"]) == (6, 1)
    assert out[1]["ids"] == [1, 0, -1]
    assert (out[1]["n_tokens"], out[1]["n_unk"]) == (3, 1)
    assert out[2]["ids"] == [-1] and out[2]["n_unk"] == 1


def test_vocab_encode_tie_and_order_stability(spark):
    from data_lakehouse_hygiene_spark.operators.text import vocab_encode

    # equal freqs -> token-asc order decides ids; order survives repartition
    df = spark.createDataFrame(
        [(0, "z y x"), (1, "x y z")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["ids"]
        for r in vocab_encode(df.repartition(7), vocab_size=3).collect()
    }
    # vocab by (freq desc, token asc): x->0, y->1, z->2
    assert out[0] == [2, 1, 0] and out[1] == [0, 1, 2]


# ------------------------------------------------------------------ dist_drift


def test_dist_drift_planted_shift_flags_only_the_shifted_group(spark):
    from data_lakehouse_hygiene_spark.maintenance import dist_drift

    rows = []
    # two groups drawn from the same values dominate the pooled baseline
    for g in ("a", "b"):
        rows += [(g, float(v)) for v in range(0, 100)]
    # one SMALL group entirely in a disjoint range: its own fit explodes
    # while barely perturbing the baseline the big groups are scored on
    rows += [("shifted", float(v)) for v in range(500, 510)]
    df = spark.createDataFrame(rows, ["src", "v"])
    out = {r["src"]: r for r in dist_drift(df, "src", "v", 50.0).collect()}
    assert out["shifted"]["drifted"] and not out["a"]["drifted"]
    assert not out["b"]["drifted"]
    assert out["a"]["chi2"] == out["b"]["chi2"]  # symmetric by construction


def test_dist_drift_matches_dense_reference(spark):
    """The telescoped missing-bin term must equal the dense chi-square
    computed the textbook way (full group x bin grid)."""
    from collections import Counter

    from data_lakehouse_hygiene_spark.maintenance import dist_drift

    rows = [
        ("g1", 1.0), ("g1", 1.5), ("g1", 7.0),
        ("g2", 4.0), ("g2", 4.5), ("g2", 4.9), ("g2", 12.0),
        ("g3", 1.2), ("g3", 12.5),
    ]
    width = 3.0
    out = {
        r["src"]: r["chi2"]
        for r in dist_drift(
            spark.createDataFrame(rows, ["src", "v"]), "src", "v", width
        ).collect()
    }
    import math

    binned = [(g, math.floor(v / width) * width) for g, v in rows]
    obs = Counter(binned)
    nb = Counter(b for _, b in binned)
    ng = Counter(g for g, _ in binned)
    n = len(binned)
    for g in ng:
        units = 0
        for b in nb:
            e = nb[b] * ng[g] / n
            o = obs.get((g, b), 0)
            t = (o - e) * (o - e) / e
            if o:
                units += math.floor(t * 1e6 + 0.5)
        miss = ng[g] * (1 - sum(nb[b] for b in nb if obs.get((g, b), 0)) / n)
        units += math.floor(miss * 1e6 + 0.5)
        want = math.floor(units / 1e6 * 1e6 + 0.5) / 1e6
        # dense-reference parity within one quantization unit per bin
        # (the engine quantizes occupied-bin terms individually too)
        assert abs(out[g] - want) <= len(nb) * 1e-6, (g, out[g], want)


# ------------------------------------------------------------------- pq_encode


def test_pq_encode_planted_codebook_geometry(spark):
    """k vectors seed the codebooks (id-ordered init); with n_iter=1 and
    well-separated clusters, copies of a seed encode to its code with
    zero error in every subspace."""
    from data_lakehouse_hygiene_spark.operators.similarity import pq_encode

    def vec(seed):
        return [float(seed)] * 8  # constant vector: same in all subspaces

    rows = [(i, vec(10 * i)) for i in range(4)]          # 4 seeds
    rows += [(100 + i, vec(10 * i)) for i in range(4)]   # exact copies
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in pq_encode(df, m=2, k=4).collect()}
    for i in range(4):
        assert out[i]["codes"] == [i, i] and out[i]["err"] == 0
        assert out[100 + i]["codes"] == [i, i] and out[100 + i]["err"] == 0


def test_pq_encode_dim_guard_and_empty(spark):
    from data_lakehouse_hygiene_spark.operators.similarity import pq_encode

    bad = spark.createDataFrame([(0, [1.0, 2.0, 3.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="subspaces"):
        pq_encode(bad, m=2)
    empty = bad.where("vec_id < 0")
    assert pq_encode(empty, m=2).count() == 0


def test_pq_encode_partition_invariant(spark):
    from data_lakehouse_hygiene_spark.operators.similarity import pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sorted(tuple((r["vec_id"], tuple(r["codes"]), r["err"]))
               for r in pq_encode(emb).collect())
    b = sorted(tuple((r["vec_id"], tuple(r["codes"]), r["err"]))
               for r in pq_encode(emb.repartition(11, "vec_id")).collect())
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------- pq_ann


def test_pq_ann_planted_copy_ranks_first_with_zero_adc(spark):
    from data_lakehouse_hygiene_spark.operators.similarity import pq_ann

    def vec(seed):
        return [float(seed)] * 8

    rows = [(i, vec(10 * i)) for i in range(4)]          # codebook seeds
    rows += [(100 + i, vec(10 * i)) for i in range(4)]   # exact copies
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = pq_ann(df, query_pred=F.col("vec_id") < 2, k=3, m=2, n_codes=4)
    rows_out = out.collect()
    by_q = {}
    for r in rows_out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid in (0, 1):
        top = sorted(by_q[qid], key=lambda r: r["rank"])
        # the exact copy of the query encodes to the query's own nearest
        # codes -> ADC 0, rank 1
        assert top[0]["vec_id"] == 100 + qid and top[0]["adc"] == 0
        adcs = [r["adc"] for r in top]
        assert adcs == sorted(adcs)


def test_pq_ann_structural_invariants(spark):
    from data_lakehouse_hygiene_spark.operators.similarity import pq_ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = pq_ann(emb).collect()
    by_q = {}
    for r in out:
        assert r["vec_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["adc"]))
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        rs.sort()
        assert [r for r, _ in rs] == list(range(1, len(rs) + 1))
        assert [a for _, a in rs] == sorted(a for _, a in rs)
    # deterministic under physical layout
    out2 = pq_ann(emb.repartition(9, "vec_id")).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_interval_join_stream_across_micro_batches(spark, tmp_path):
    """Cross-batch state: a time-ordered two-file replay (one file per
    micro-batch via maxFilesPerTrigger=1) must still reproduce the batch
    interval join — clicks buffered in batch 1 match purchases arriving
    in batch 2, and watermark eviction only drops rows that could no
    longer match anyway."""
    from data_lakehouse_hygiene_spark import streaming
    from .conftest import SF_ORACLE

    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    # split at the click timestamp of a real attribution pair with a
    # strictly positive lag, so that pair's click lands in batch 1 and
    # its purchase in batch 2 — the cross-batch claim cannot be vacuous
    cc = ev.where("event_type = 'click'").select(
        F.col("user_id").alias("u"), F.col("ts").alias("cts"))
    pp = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("u2"), F.col("ts").alias("pts"))
    pair = (
        cc.join(pp, (F.col("u") == F.col("u2"))
                & (F.col("cts") < F.col("pts"))
                & (F.col("cts") >= F.expr("pts - INTERVAL 1 HOUR")))
        .orderBy("cts").limit(1).collect()
    )
    assert pair, "fixture has no positive-lag attribution pair"
    split = pair[0]["cts"]
    d = str(tmp_path / "ev")
    ev.where(F.col("ts") <= F.lit(split)).coalesce(1).write.parquet(f"{d}/f1")
    ev.where(F.col("ts") > F.lit(split)).coalesce(1).write.parquet(f"{d}/f2")
    import glob
    import shutil

    files = sorted(glob.glob(f"{d}/f1/part-*.parquet")) + sorted(
        glob.glob(f"{d}/f2/part-*.parquet")
    )
    stream_dir = str(tmp_path / "feed")
    import os

    os.makedirs(stream_dir)
    # file mtimes give the source its processing order: f1 then f2
    for i, f in enumerate(files):
        dst = f"{stream_dir}/{i:02d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    j = streaming.interval_join_stream(
        src.where(F.col("event_type") == "click"),
        src.where(F.col("event_type") == "purchase"),
        horizon="1 hour",
    )
    got = sorted(
        tuple(r)
        for r in streaming.run_to_memory(j, output_mode="append").collect()
    )
    c = ev.where("event_type = 'click'").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("cid"),
        F.col("ts").cast("timestamp").alias("cts"))
    p = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"),
        F.col("ts").cast("timestamp").alias("pts"))
    want = sorted(
        tuple(r)
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.expr("pts - INTERVAL 1 HOUR")),
        ).select(
            "cu", "cid", "pid",
            (F.unix_micros("pts") - F.unix_micros("cts")).alias("lag_us"),
        ).collect()
    )
    assert got == want and len(got) > 0
    # the claim is only non-vacuous if some pair actually straddles the
    # file boundary (click in batch 1, purchase in batch 2)
    straddling = (
        c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.expr("pts - INTERVAL 1 HOUR")),
        )
        .where(
            (F.col("cts") <= F.lit(split).cast("timestamp"))
            & (F.col("pts") > F.lit(split).cast("timestamp"))
        )
        .count()
    )
    assert straddling > 0, "split produced no cross-batch pairs"


# --------------------------------------------- star connected components


def test_star_components_deep_chain_within_log_rounds(spark):
    """A 64-node path (diameter 63) must resolve under the star plan in
    far fewer rounds than its diameter — max_iter=10 > log2(64) passes,
    where min-label propagation at the same budget cannot finish."""
    from data_lakehouse_hygiene_spark.operators.dedup import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["doc_a", "doc_b"]
    )
    out = connected_components(chain, max_iter=10, algorithm="star").collect()
    assert len(out) == 64
    assert all(r["cluster_id"] == 0 for r in out)
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(chain, max_iter=10).collect()


def test_dedup_keep_best_star_equals_propagate(spark):
    from data_lakehouse_hygiene_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [(i, 100 + (i % 3)) for i in range(8)], ["doc_id", "n_chars"]
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5), (5, 6), (6, 7)], ["doc_a", "doc_b"]
    )
    a = sorted(tuple(r) for r in dedup_keep_best(docs, pairs).collect())
    b = sorted(
        tuple(r)
        for r in dedup_keep_best(docs, pairs, algorithm="star").collect()
    )
    assert a == b and len(a) == 7  # doc 3 is pair-free, never labeled


# ----------------------------------------------------------------- rolling_agg


def test_rolling_agg_planted_frames(spark):
    """Hand-checkable trailing window: events at minute offsets 0, 30,
    90 for one user with a 1-hour window — the third event's frame drops
    the first (gap 90 min) but keeps the second (gap 60 min, inclusive
    bound). ``sum_window`` is accumulated as DECIMAL internally but
    emitted as a quantized DOUBLE (driver/pandas canon contract)."""
    from data_lakehouse_hygiene_spark.operators.temporal import rolling_agg

    base = "2024-01-01 00:"
    rows = [
        (1, 7, f"{base}00:00", 10.0),
        (2, 7, f"{base}30:00", 20.0),
        (3, 7, f"2024-01-01 01:30:00", 40.0),
        (4, 8, f"{base}10:00", 5.0),  # other key: frames never mix
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "value"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["event_id"]: r for r in rolling_agg(df, window_s=3600).collect()}
    assert (out[1]["n_window"], out[1]["sum_window"]) == (1, 10.0)
    assert (out[2]["n_window"], out[2]["sum_window"]) == (2, 30.0)
    # 01:30 frame = [00:30, 01:30]: event 1 (00:00) is out, event 2 in
    assert (out[3]["n_window"], out[3]["sum_window"]) == (2, 60.0)
    assert out[3]["avg_window"] == 30.0
    assert (out[4]["n_window"], out[4]["sum_window"]) == (1, 5.0)


def test_rolling_agg_tie_timestamps_share_frames(spark):
    """RANGE (not ROWS) frame: same-timestamp events must see each other
    regardless of physical order — repartition cannot change results."""
    from data_lakehouse_hygiene_spark.operators.temporal import rolling_agg

    rows = [
        (i, 1, "2024-01-01 00:00:00", float(i)) for i in range(4)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "value"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    a = sorted(tuple(r) for r in rolling_agg(df).collect())
    b = sorted(tuple(r) for r in rolling_agg(df.repartition(5)).collect())
    assert a == b
    # every tied row sees all four
    assert all(r[4] == 4 for r in a)


def test_vocab_encode_inline_and_join_paths_equal(spark):
    """The map-literal in-row encode and the broadcast-join + reassembly
    encode must agree on the fixture corpus (same vocab, same ids, same
    UNK accounting)."""
    from data_lakehouse_hygiene_spark.operators import text as T

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    inline = sorted(
        (r["doc_id"], tuple(r["ids"]), r["n_tokens"], r["n_unk"])
        for r in T.vocab_encode(docs, vocab_size=16).collect()
    )
    old = T.VOCAB_INLINE_MAX
    T.VOCAB_INLINE_MAX = 0
    try:
        joined = sorted(
            (r["doc_id"], tuple(r["ids"]), r["n_tokens"], r["n_unk"])
            for r in T.vocab_encode(docs, vocab_size=16).collect()
        )
    finally:
        T.VOCAB_INLINE_MAX = old
    assert inline == joined and len(inline) > 0

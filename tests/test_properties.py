"""Property-based tests (hypothesis) for the cross-engine parity core.

Everything in the engine leans on three primitives: floor-quantize
rounding, DECIMAL exact sums, and the md5-derived portable hash. If these
hold for arbitrary inputs, per-query parity follows; these tests attack
them directly with generated data.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from data_lakehouse_hygiene_spark.operators.aggregates import exact_sum, quantize
from data_lakehouse_hygiene_spark.operators.dedup import base_hash

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

finite_doubles = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@given(st.lists(finite_doubles, min_size=1, max_size=50))
@settings(**_SETTINGS)
def test_quantize_matches_python_floor(spark, xs):
    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    got = [r[0] for r in df.select(quantize(F.col("x"), 2)).collect()]
    want = [math.floor(x * 100.0 + 0.5) / 100.0 for x in xs]
    assert got == want


@given(
    st.lists(
        st.decimals(
            min_value=-99999, max_value=99999, places=2, allow_nan=False
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_exact_sum_is_partition_order_independent(spark, ds):
    rows = [(float(d),) for d in ds]
    df = spark.createDataFrame(rows, "x double")
    one = df.coalesce(1).agg(exact_sum("x")).collect()[0][0]
    many = df.repartition(7).agg(exact_sum("x")).collect()[0][0]
    rev = spark.createDataFrame(list(reversed(rows)), "x double").agg(
        exact_sum("x")
    ).collect()[0][0]
    assert one == many == rev


@given(st.lists(st.text(alphabet=st.characters(codec="ascii"), max_size=40), min_size=1, max_size=30))
@settings(**_SETTINGS)
def test_base_hash_matches_duckdb(spark, strings):
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = {r[0]: r[1] for r in df.select("s", base_hash(F.col("s"))).collect()}
    con = duckdb.connect()
    for s in strings:
        want = con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", [s]
        ).fetchone()[0]
        assert got[s] == want, s


@settings(max_examples=60, suppress_health_check=[HealthCheck.too_slow], deadline=None)
@given(
    width=st.integers(min_value=1, max_value=1024),
    height=st.integers(min_value=1, max_value=512),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_bmp_roundtrip_property(width, height, seed):
    """decode(make_bmp(w, h)) must recover exactly (w, h, 24) for any
    dimensions — the decoder reads bytes, not conventions."""
    from data_lakehouse_hygiene_spark.operators import multimodal

    d = multimodal.decode_media(multimodal.make_bmp(width, height, seed), "image/bmp")
    assert (d["width"], d["height"], d["bpp"]) == (width, height, 24)


@settings(max_examples=60, suppress_health_check=[HealthCheck.too_slow], deadline=None)
@given(
    rate=st.integers(min_value=1, max_value=384_000),
    n=st.integers(min_value=0, max_value=100_000),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_wav_roundtrip_property(rate, n, seed):
    from data_lakehouse_hygiene_spark.operators import multimodal

    d = multimodal.decode_media(multimodal.make_wav(rate, n, seed), "audio/wav")
    assert (d["sample_rate"], d["n_channels"], d["n_samples"]) == (rate, 1, n)


# Strategy: documents are sequences of tokens from a small alphabet so
# duplicated k-grams arise naturally; doc_ids are distinct.
_tok = st.sampled_from([f"w{i}" for i in range(12)])
_doc = st.lists(_tok, min_size=0, max_size=40).map(" ".join)


@given(st.lists(_doc, min_size=2, max_size=8))
@settings(**_SETTINGS)
def test_substring_spans_and_apply_match_python_replay(spark, texts):
    """Full independent replay of duplicate-span mining + application on
    arbitrary corpora: a plain-Python model mines the ≥2×-occurring
    k-gram positions, merges them into strict-overlap islands, and cuts
    the covered tokens; the Spark operators must match it exactly.
    (Deliberately shares no code with the operators, so a bug in the
    window/island decomposition cannot cancel out.)"""
    from data_lakehouse_hygiene_spark.operators.dedup import (
        substring_dedup_apply,
        substring_dedup_spans,
    )

    k = 4
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    toks = {i: t.split(" ") for i, t in rows}  # split('') -> [''], as Spark
    grams: dict[str, int] = {}
    for ts in toks.values():
        for p in range(len(ts) - k + 1):
            g = " ".join(ts[p : p + k])
            grams[g] = grams.get(g, 0) + 1
    want_spans = set()
    covered: dict[int, set[int]] = {}
    for doc_id, ts in toks.items():
        dup = [
            p
            for p in range(len(ts) - k + 1)
            if grams[" ".join(ts[p : p + k])] >= 2
        ]
        isl: list[list[int]] = []
        for p in dup:
            if isl and p < isl[-1][-1] + k:  # strict overlap with prev gram
                isl[-1].append(p)
            else:
                isl.append([p])
        for ps in isl:
            s, e = ps[0], ps[-1] + k
            want_spans.add((doc_id, s, e, e - s, len(ps)))
            covered.setdefault(doc_id, set()).update(range(s, e))
    got_spans = {
        tuple(r) for r in substring_dedup_spans(docs, min_tokens=k).collect()
    }
    assert got_spans == want_spans
    applied = {
        r["doc_id"]: (r["clean_text"], r["n_tokens_removed"])
        for r in substring_dedup_apply(docs, min_tokens=k).collect()
    }
    assert set(applied) == set(toks)
    for doc_id, ts in toks.items():
        cov = covered.get(doc_id, set())
        want = " ".join(t for p, t in enumerate(ts) if p not in cov)
        assert applied[doc_id] == (want, len(cov)), doc_id


# ---- round-7 operators: python-replay properties ------------------------

_vec = st.lists(
    st.floats(min_value=-1.0, max_value=1.0, allow_nan=False,
              allow_infinity=False, width=32),
    min_size=4, max_size=4,
)


@given(st.lists(_vec, min_size=1, max_size=12), st.sampled_from([0.3, 0.7, 0.95]))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cosine_pairs_matches_numpy_replay(spark, vecs, threshold):
    """Both cosine_pairs plan shapes (hash-blocked small path and forced
    cluster-blocked pruned path) must equal an independent numpy replay of
    the quantized arithmetic — including zero vectors (dropped) and
    arbitrary blocking splits."""
    import numpy as np

    from data_lakehouse_hygiene_spark.operators import similarity
    from data_lakehouse_hygiene_spark.operators.similarity import (
        cosine_pairs,
    )

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    S = 1e12
    A = np.array([np.array(v, dtype=np.float32) for v in vecs], dtype=np.float64)
    nrm = np.sqrt(np.floor(A * A * S + 0.5).astype(np.int64).sum(axis=1) / S)
    want = set()
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            if nrm[i] == 0 or nrm[j] == 0:
                continue
            dotq = np.floor(A[i] * A[j] * S + 0.5).astype(np.int64).sum()
            cos = (dotq / S) / (nrm[i] * nrm[j])
            cosq = math.floor(cos * 1e6 + 0.5) / 1e6
            if cosq >= threshold:
                want.add((i, j, cosq))
    def got(**consts):
        with pytest.MonkeyPatch.context() as mp:
            for name, value in consts.items():
                mp.setattr(similarity, name, value)
            return {
                (r["vec_a"], r["vec_b"], r["cosine"])
                for r in cosine_pairs(df, threshold=threshold).collect()
            }

    # three hash blocks, then three k-means blocks
    assert got(N_BLOCKS=3) == want
    assert got(N_BLOCKS=3, KMEANS_MAX_BLOCKS=3, COSINE_SMALL_BYTES=0) == want
    # a 1-row block target makes EVERY cluster oversize — the round-9
    # hash-split sub-block expansion must stay a pure plan-shape change
    assert got(
        N_BLOCKS=2, KMEANS_MAX_BLOCKS=2, COSINE_SMALL_BYTES=0,
        BLOCK_TARGET_ROWS=1,
    ) == want


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


_name = st.lists(
    st.sampled_from(["red", "rod", "old", "cold", "gear", "bear", "bolt"]),
    min_size=1, max_size=3,
).map(" ".join)


@given(st.lists(_name, min_size=1, max_size=12), st.sampled_from([1, 2, 3]))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_fuzzy_pairs_matches_python_replay(spark, names, k):
    """fuzzy_pairs == brute-force replay of its declared contract: distinct
    values, pairs sharing >=1 word under the cap, levenshtein <= k."""
    from collections import Counter

    from data_lakehouse_hygiene_spark.operators.dedup import fuzzy_pairs

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], ["p_partkey", "p_name"]
    )
    cnt = Counter(names)
    distinct = sorted(cnt)
    wordsets = {n: set(n.split(" ")) for n in distinct}
    cap = 3
    occupancy = Counter(w for n in distinct for w in wordsets[n])
    want = set()
    for i in range(len(distinct)):
        for j in range(i + 1, len(distinct)):
            a, b = distinct[i], distinct[j]
            shared = {
                w for w in wordsets[a] & wordsets[b] if occupancy[w] <= cap
            }
            if shared and _lev(a, b) <= k:
                want.add((a, b, _lev(a, b), cnt[a], cnt[b]))
    got = {
        tuple(r)
        for r in fuzzy_pairs(df, max_dist=k, word_cap=cap).collect()
    }
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),          # user
            st.sampled_from(["click", "view"]),             # type
            st.integers(min_value=0, max_value=2000),       # offset seconds
        ),
        min_size=1, max_size=20,
    ),
    st.sampled_from([60, 600]),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_event_debounce_matches_python_replay(spark, events, window_s):
    """event_debounce == python replay of the burst-leader rule, exact
    microsecond gaps, (ts, id) tie-break order."""
    import datetime as dt

    from data_lakehouse_hygiene_spark.operators.temporal import (
        event_debounce,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (eid, u, ty, t0 + dt.timedelta(seconds=off))
        for eid, (u, ty, off) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp_ntz"
    )
    want = set()
    bygroup: dict = {}
    for eid, u, ty, ts in sorted(rows, key=lambda r: (r[3], r[0])):
        prev = bygroup.get((u, ty))
        gap = None if prev is None else int((ts - prev).total_seconds() * 1e6)
        if gap is None or gap > window_s * 1_000_000:
            want.add((eid, u, ty, gap))
        bygroup[(u, ty)] = ts
    got = {tuple(r) for r in event_debounce(df, window_s=window_s).collect()}
    assert got == want


_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
_doc_text = st.lists(_word, min_size=1, max_size=12).map(" ".join)


@given(st.lists(_doc_text, min_size=2, max_size=10))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_simhash_kernel_equals_expression_on_random_docs(spark, texts):
    """For both SimHash widths the size-gated Arrow popcount kernel and
    the expression-combo path must emit identical pair sets on arbitrary
    small corpora (integer ops both sides), and the gate must really
    switch the plan."""
    from data_lakehouse_hygiene_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    for pairs in (D.simhash_near_dup_pairs, D.simhash128_near_dup_pairs):
        expr_pairs = sorted(tuple(r) for r in pairs(df).collect())
        old = D.SIMHASH_KERNEL_BYTES
        D.SIMHASH_KERNEL_BYTES = 0
        try:
            kern = pairs(df)
            plan = kern._jdf.queryExecution().executedPlan().toString()
            kern_pairs = sorted(tuple(r) for r in kern.collect())
        finally:
            D.SIMHASH_KERNEL_BYTES = old
        assert expr_pairs == kern_pairs
        assert "FlatMapGroupsInPandas" in plan


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),              # user
            st.sampled_from(["view", "click", "purchase"]),     # step type
            st.integers(min_value=0, max_value=100),            # ts offset
        ),
        min_size=1, max_size=24,
    )
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_funnel_conversion_matches_python_replay(spark, events):
    """funnel_conversion == a brute-force replay of the inclusive
    at-or-after reach rule."""
    import datetime as dt

    from data_lakehouse_hygiene_spark.operators.temporal import (
        funnel_conversion,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (eid, u, ty, t0 + dt.timedelta(seconds=off))
        for eid, (u, ty, off) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp_ntz"
    )
    # python replay
    byu: dict = {}
    for _, u, ty, ts in rows:
        byu.setdefault(u, []).append((ty, ts))
    reach_counts = []
    reach_t: dict = {}
    for step in ("view", "click", "purchase"):
        nxt = {}
        for u, evs in byu.items():
            if step != "view" and u not in reach_t:
                continue
            lo = reach_t.get(u)
            cand = [
                ts for ty, ts in evs
                if ty == step and (lo is None or ts >= lo)
            ]
            if cand:
                nxt[u] = min(cand)
        reach_t = nxt
        reach_counts.append(len(nxt))
    got = {
        r["step"]: r["n_users"] for r in funnel_conversion(df).collect()
    }
    assert got["view"] == reach_counts[0]
    assert got["click"] == reach_counts[1]
    assert got["purchase"] == reach_counts[2]


@given(st.lists(_doc_text, min_size=2, max_size=10))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_simhash_mih_equals_expression_on_random_docs(spark, texts):
    """The multi-index-hashing corpus-scale plan (4×16-bit bands +
    single-bit-flip variant keys) must emit the identical pair set as the
    8-band expression path on arbitrary small corpora — all three plan
    shapes compute the same {hamming ≤ 7} relation."""
    from data_lakehouse_hygiene_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    expr_pairs = sorted(
        tuple(r) for r in D.simhash_near_dup_pairs(df).collect()
    )
    old = D.SIMHASH_MIH_BYTES
    D.SIMHASH_MIH_BYTES = 0
    try:
        mih_pairs = sorted(
            tuple(r) for r in D.simhash_near_dup_pairs(df).collect()
        )
    finally:
        D.SIMHASH_MIH_BYTES = old
    assert expr_pairs == mih_pairs


@given(
    st.lists(  # new batch: per-doc line lists over a tiny line vocabulary
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", ""]),
                 min_size=1, max_size=5),
        min_size=1, max_size=6,
    ),
    st.lists(  # history lines
        st.sampled_from(["aa", "bb", "xx"]), min_size=0, max_size=4
    ),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_incremental_line_dedup_replay(spark, batch, hist_lines):
    """Python replay of the keep rule: a line is kept iff it is below
    min_chars, or (it is the batch-global first occurrence by (doc_id,
    pos) AND absent from the history line set)."""
    from data_lakehouse_hygiene_spark.operators.dedup import (
        incremental_line_dedup,
    )

    new_rows = [(i, "\n".join(ls)) for i, ls in enumerate(batch)]
    hist_rows = [(100, "\n".join(hist_lines))] if hist_lines else [
        (100, "zz")
    ]
    new_df = spark.createDataFrame(new_rows, ["doc_id", "text"])
    hist_df = spark.createDataFrame(hist_rows, ["doc_id", "text"])
    hist_set = {l for l in (hist_lines or ["zz"]) if len(l) >= 1}
    first: dict[str, tuple[int, int]] = {}
    for i, ls in enumerate(batch):
        for p, l in enumerate(ls):
            if len(l) >= 1 and l not in first:
                first[l] = (i, p)
    want = {}
    for i, ls in enumerate(batch):
        kept = [
            l for p, l in enumerate(ls)
            if len(l) < 1
            or (first.get(l) == (i, p) and l not in hist_set)
        ]
        removed = len(ls) - len(kept)
        want[i] = ("\n".join(kept), removed)
    got = {
        r["doc_id"]: (r["clean_text"], r["n_lines_removed"])
        for r in incremental_line_dedup(new_df, hist_df).collect()
    }
    assert got == want


# ------------------------------------------------- round-8 additions


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # group
            st.integers(min_value=0, max_value=40),  # value
        ),
        min_size=2,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_dist_drift_zero_for_identical_groups_and_python_parity(spark, pairs):
    """(a) Groups that are exact copies of one another score chi2 == 0
    (o == e exactly, rational arithmetic). (b) On arbitrary grouped
    integers, the engine matches a direct Python replay of the declared
    quantized arithmetic."""
    from collections import Counter

    from data_lakehouse_hygiene_spark.maintenance import dist_drift

    # (a) identical copies
    base = [v for _, v in pairs]
    rows = [("a", float(v)) for v in base] + [("b", float(v)) for v in base]
    out = dist_drift(
        spark.createDataFrame(rows, ["g", "v"]), "g", "v", 10.0
    ).collect()
    assert all(r["chi2"] == 0.0 and not r["drifted"] for r in out)

    # (b) python replay on the raw pairs
    width = 10.0
    rows2 = [(f"g{g}", float(v)) for g, v in pairs]
    out2 = {
        r["g"]: r["chi2"]
        for r in dist_drift(
            spark.createDataFrame(rows2, ["g", "v"]), "g", "v", width
        ).collect()
    }
    binned = [(g, math.floor(v / width) * width) for g, v in rows2]
    obs = Counter(binned)
    nb = Counter(b for _, b in binned)
    ng = Counter(g for g, _ in binned)
    n = len(binned)
    for g in ng:
        units = 0
        seen = 0
        for b in nb:
            o = obs.get((g, b), 0)
            if not o:
                continue
            e = float(nb[b]) * float(ng[g]) / float(n)
            units += math.floor((o - e) * (o - e) / e * 1e6 + 0.5)
            seen += nb[b]
        miss = float(ng[g]) * (1.0 - float(seen) / float(n))
        units += math.floor(miss * 1e6 + 0.5)
        want = math.floor(units / 1e6 * 1e6 + 0.5) / 1e6
        assert out2[g] == want, (g, out2[g], want)


@given(
    st.lists(
        st.lists(
            st.floats(min_value=-1.0, max_value=1.0,
                      allow_nan=False, allow_infinity=False),
            min_size=4, max_size=4,
        ),
        min_size=1,
        max_size=12,
        unique_by=tuple,
    ),
    st.integers(min_value=1, max_value=6),
)
@settings(**_SETTINGS)
def test_kcenter_structural_properties(spark, vecs, k):
    """|selection| = min(k, n); ids distinct; seed = min vec_id with
    dist 0; radii non-increasing."""
    from data_lakehouse_hygiene_spark.operators.similarity import (
        kcenter_sample,
    )

    rows = [(i, list(map(float, v))) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = kcenter_sample(df, k=k).orderBy("sel_rank").collect()
    assert len(out) == min(k, len(rows))
    ids = [r["vec_id"] for r in out]
    assert len(set(ids)) == len(ids)
    assert out[0]["vec_id"] == 0 and out[0]["dist"] == 0
    radii = [r["dist"] for r in out[1:]]
    assert radii == sorted(radii, reverse=True)


@given(
    st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_vocab_encode_coverage_invariants(spark, texts, vsize):
    """ids length == token count; every id in [-1, V-1]; n_unk counts
    exactly the ids equal to unk; totals match the raw tokenization."""
    from data_lakehouse_hygiene_spark.operators.text import vocab_encode

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in vocab_encode(df, vocab_size=vsize).collect()}
    assert set(out) == {i for i, _ in rows}
    vocab_n = len({tok for _, t in rows for tok in t.split(" ")})
    for i, t in rows:
        toks = t.split(" ")
        r = out[i]
        assert len(r["ids"]) == len(toks) == r["n_tokens"]
        assert all(-1 <= x < min(vsize, vocab_n) for x in r["ids"])
        assert r["n_unk"] == sum(1 for x in r["ids"] if x == -1)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_connected_components_star_equals_propagate(spark, raw_edges):
    """The O(log n)-round large-star/small-star plan must label every
    node identically to min-label propagation on arbitrary graphs."""
    from data_lakehouse_hygiene_spark.operators.dedup import (
        connected_components,
    )

    edges = [(a, b) for a, b in raw_edges if a != b] or [(0, 1)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    a = sorted(tuple(r) for r in connected_components(df).collect())
    b = sorted(
        tuple(r) for r in connected_components(df, algorithm="star").collect()
    )
    assert a == b and len(a) > 0


@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            min_size=0, max_size=12,
        ),
        min_size=1, max_size=8,
    ),
    st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_cooccurrence_matches_bruteforce(spark, docs, window):
    """In-row pair generation == the naive positional double loop, for
    random small corpora and window sizes (incl. repeated tokens and
    empty/one-token docs)."""
    from collections import Counter

    from data_lakehouse_hygiene_spark.operators.text import (
        cooccurrence_counts,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.tok_a, r.tok_b): r.cnt
        for r in cooccurrence_counts(
            df, window=window, min_count=1
        ).collect()
    }
    want: Counter = Counter()
    for _, text in rows:
        # split(' ') on an empty string yields [""] in both engines —
        # mirror that, not python's str.split() which yields [].
        toks = text.split(" ")
        for i in range(len(toks) - 1):
            for j in range(i + 1, min(i + window, len(toks) - 1) + 1):
                want[tuple(sorted((toks[i], toks[j])))] += 1
    assert got == dict(want)


@given(
    st.lists(
        st.sampled_from([f"t{i}" for i in range(25)]),
        min_size=1,
        max_size=400,
    ),
    st.sampled_from([0.01, 0.05, 0.2, 0.6]),
    st.sampled_from([1, 5, 32]),
)
@settings(**_SETTINGS)
def test_heavy_hitters_never_misses_and_never_fabricates(
    spark, values, phi, parts
):
    """Misra-Gries survivor guarantee under arbitrary value multisets,
    thresholds, and partitionings: output == the exact GROUP BY ...
    HAVING answer, always (the sketch may over-generate candidates but
    the recount filters; a miss is impossible by the (c+1)·d
    mass-removal invariant)."""
    from collections import Counter

    from data_lakehouse_hygiene_spark.operators.aggregates import (
        heavy_hitters,
    )

    df = spark.createDataFrame(
        [(v,) for v in values], "token string"
    ).repartition(parts)
    n = len(values)
    c = Counter(values)
    want = sorted(
        ((v, k) for v, k in c.items() if k > phi * n),
        key=lambda t: (-t[1], t[0]),
    )
    got = [
        (r["token"], r["cnt"])
        for r in heavy_hitters(df, "token", phi=phi).collect()
    ]
    assert got == want


# ---------------------------------------------- batched phash kernels
@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.tuples(
                st.just("bmp"),
                st.integers(min_value=1, max_value=70),
                st.integers(min_value=1, max_value=70),
                st.integers(min_value=0, max_value=255),
            ),
            st.tuples(
                st.just("wav"),
                st.integers(min_value=1, max_value=5000),
                st.integers(min_value=1000, max_value=16000),
                st.integers(min_value=0, max_value=255),
            ),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_phash_payload_batching_equals_scalar(specs):
    """For ANY mix of container geometries — including repeated shapes
    that trigger the batched kernels and odd shapes that fall back —
    the batch dispatcher must reproduce the scalar fingerprints bit
    for bit (non-divisible pooling/frame paths included)."""
    from data_lakehouse_hygiene_spark.operators.multimodal import (
        _phash_bmp, _phash_payloads, _phash_wav, make_bmp, make_wav,
    )

    payloads = []
    for kind, a, b, seed in specs:
        if kind == "bmp":
            payloads.append(make_bmp(a, b, seed=seed))
        else:
            payloads.append(make_wav(b, a, seed=seed))
    # duplicate the list so every geometry also exercises the batch
    # path (group size >= 2) alongside any singleton fallback
    payloads = payloads + payloads
    got = _phash_payloads(payloads)
    want = [
        _phash_bmp(p) if p[:2] == b"BM" else _phash_wav(p)
        for p in payloads
    ]
    assert got == want

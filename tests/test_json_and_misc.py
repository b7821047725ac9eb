"""Coverage for utility surfaces not exercised by the oracle suite:
json_ops parsing helpers, the CSV log sink, and a sessionize property
check against a pure-Python reference."""

from __future__ import annotations

import csv
import glob
import tempfile

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from .conftest import SF_SMOKE

from data_lakehouse_hygiene_spark import sinks
from data_lakehouse_hygiene_spark.operators import json_ops, temporal
from data_lakehouse_hygiene_spark.schemas import load_table


def test_parse_json_col_malformed_to_null(spark):
    schema = StructType(
        [StructField("a", DoubleType()), StructField("b", StringType())]
    )
    df = spark.createDataFrame(
        [('{"a": 1.5, "b": "x"}',), ("not json at all",), (None,)],
        ["payload"],
    )
    out = json_ops.parse_json_col(df, "payload", schema, "parsed").select(
        "parsed.a", "parsed.b"
    )
    rows = [tuple(r) for r in out.collect()]
    assert (1.5, "x") in rows
    assert rows.count((None, None)) == 2  # malformed AND null both coerce


def test_explode_levels_two_deep(spark):
    schema = StructType(
        [StructField("outer", ArrayType(ArrayType(StringType())))]
    )
    df = spark.createDataFrame([([["a", "b"], ["c"]],)], schema)
    out = json_ops.explode_levels(df, "outer", "outer_x")
    vals = sorted(r["outer_x_x"] for r in out.collect())
    assert vals == ["a", "b", "c"]


def test_csv_log_single_file(spark):
    df = load_table(spark, SF_SMOKE, "region")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/log"
        sinks.csv_log(df, path)
        files = glob.glob(f"{path}/part-*.csv")
        assert len(files) == 1  # coalesce(1): exactly one CSV part
        with open(files[0]) as f:
            rows = list(csv.reader(f))
        assert rows[0] == ["r_regionkey", "r_name"]
        assert len(rows) - 1 == df.count()


def test_sessionize_matches_python_reference(spark):
    """Session ids computed by Spark must equal a straightforward Python
    scan over the same (user-ordered) events."""
    ev = load_table(spark, SF_SMOKE, "events")
    got = {
        r["event_id"]: r["session_id"]
        for r in temporal.sessionize(
            ev, key="user_id", ts="ts", gap_seconds=1800, tiebreak="event_id"
        ).collect()
    }
    rows = sorted(
        ((r["user_id"], r["ts"], r["event_id"]) for r in ev.collect())
    )
    want = {}
    last_ts_by_user: dict = {}
    sess_by_user: dict = {}
    import calendar

    def epoch_s(t):  # truncated-epoch diff == Spark unix_timestamp semantics
        return calendar.timegm(t.timetuple())

    for user, ts, eid in rows:
        prev = last_ts_by_user.get(user)
        if prev is None or epoch_s(ts) - epoch_s(prev) > 1800:
            sess_by_user[user] = sess_by_user.get(user, 0) + 1
        last_ts_by_user[user] = ts
        want[eid] = sess_by_user[user]
    assert got == want


def test_pii_scrub_redacts_and_counts(spark):
    """Email/phone redaction with per-doc counts; clean rows untouched."""
    from data_lakehouse_hygiene_spark.operators.text import pii_scrub

    rows = [
        (1, "contact bob.smith+x@example.co.uk or call +1 (555) 123-4567 now"),
        (2, "no pii here at all"),
        (3, "two mails a@b.io c@d.org and digits 123 only"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert got[1]["n_emails_redacted"] == 1
    assert got[1]["n_phones_redacted"] == 1
    assert "<EMAIL>" in got[1]["text"] and "<PHONE>" in got[1]["text"]
    assert "example.co.uk" not in got[1]["text"]
    assert got[2]["text"] == "no pii here at all"
    assert got[2]["n_emails_redacted"] == 0 == got[2]["n_phones_redacted"]
    assert got[3]["n_emails_redacted"] == 2
    assert got[3]["n_phones_redacted"] == 0


def test_repetition_metrics_edges(spark):
    """Degenerate docs: single token (no bigrams -> 0.0), fully repeated
    text (top fraction 1.0, all bigrams duplicate), diverse text keeps."""
    from data_lakehouse_hygiene_spark.operators.text import repetition_metrics

    rows = [
        (1, "solo"),
        (2, "spam spam spam spam"),
        (3, "all tokens here are different words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    assert got[1]["n_tokens"] == 1 and got[1]["dup_bigram_frac"] == 0.0
    assert got[1]["top_token_frac"] == 1.0 and not got[1]["keep"]
    assert got[2]["top_token_frac"] == 1.0
    # 3 bigrams, 1 distinct -> 2/3 duplicated
    assert abs(got[2]["dup_bigram_frac"] - 0.666667) < 1e-9
    assert not got[2]["keep"]
    assert got[3]["keep"] and got[3]["dup_bigram_frac"] == 0.0


def test_dedup_keep_best_keeper_rule(spark):
    """One keeper per connected cluster: highest quality, tie -> smallest
    doc_id; chain A~B, B~C collapses to one cluster."""
    from data_lakehouse_hygiene_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (4, 50), (5, 10)],
        ["doc_id", "n_chars"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["doc_a", "doc_b"]
    )
    got = {r["doc_id"]: r for r in dedup_keep_best(docs, pairs).collect()}
    assert {d for d, r in got.items() if r["keep"]} == {2, 4}
    assert {r["cluster_id"] for r in got.values()} == {1, 4}
    assert len(got) == 5


def test_incremental_dedup_digest_semantics(spark):
    """Anti-join drops new rows whose NORMALIZED digest exists in history
    (case/whitespace-insensitive); empty history keeps everything."""
    from data_lakehouse_hygiene_spark.operators.dedup import incremental_dedup

    hist = spark.createDataFrame(
        [(1, "Hello World"), (2, "other doc")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(10, "  hello world "), (11, "hello worlds"), (12, "other doc")],
        ["doc_id", "text"],
    )
    kept = sorted(r["doc_id"] for r in incremental_dedup(new, hist).collect())
    assert kept == [11]
    empty_hist = hist.where("doc_id < 0")
    kept2 = sorted(
        r["doc_id"] for r in incremental_dedup(new, empty_hist).collect()
    )
    assert kept2 == [10, 11, 12]


def test_top_k_per_group_tie_break(spark):
    """rk is deterministic: order desc, ties -> smallest tie column first;
    k cuts per group, not globally."""
    from data_lakehouse_hygiene_spark.operators.ordering import top_k_per_group

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 10), (3, "a", 5), (4, "b", 1)],
        ["doc_id", "grp", "score"],
    )
    got = {
        r["doc_id"]: r["rk"]
        for r in top_k_per_group(df, "grp", "score", 2, tie="doc_id").collect()
    }
    assert got == {1: 1, 2: 2, 4: 1}


def test_bigram_lm_score_hand_computed(spark):
    """p(b|a) = bigram count / prefix count over instances; score = avg.
    'a a a b' -> bigrams (a,a),(a,a),(a,b): p(a|a)=2/3, p(b|a)=1/3,
    score = (2/3+2/3+1/3)/3 = 5/9. Docs with <2 tokens are excluded."""
    from data_lakehouse_hygiene_spark.operators.text import bigram_lm_score

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x")], ["doc_id", "text"]
    )
    rows = bigram_lm_score(df).collect()
    assert [r["doc_id"] for r in rows] == [1]
    r = rows[0]
    assert r["n_bigrams"] == 3
    assert abs(r["lm_score"] - 5 / 9) < 1e-6


def test_line_dedup_keep_first_and_structure(spark):
    """Corpus-wide duplicate-line removal: the globally first occurrence
    (smallest (doc_id, pos)) of each line survives, later occurrences are
    cut; sub-min_chars lines (blank separators) always survive; a fully
    deduplicated document comes back as ''."""
    from data_lakehouse_hygiene_spark.operators.dedup import line_dedup

    rows = [
        (1, "alpha line\nshared boilerplate\nunique one"),
        (2, "shared boilerplate\n\nunique two"),
        (3, "shared boilerplate"),
        (4, "alpha line\nshared boilerplate"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert got[1]["clean_text"] == "alpha line\nshared boilerplate\nunique one"
    assert got[1]["n_lines_removed"] == 0
    # doc 2 loses the boilerplate but keeps its blank separator line
    assert got[2]["clean_text"] == "\nunique two"
    assert got[2]["n_lines_removed"] == 1
    # doc 3 is nothing but the boilerplate -> fully removed
    assert got[3]["clean_text"] == "" and got[3]["n_lines_removed"] == 1
    assert got[4]["clean_text"] == "" and got[4]["n_lines_removed"] == 2


def test_line_dedup_matches_python_replay(spark):
    """Independent Python replay of the keep-first policy on a generated
    corpus (deterministic seed, heavy cross-doc line reuse)."""
    import random

    from data_lakehouse_hygiene_spark.operators.dedup import line_dedup

    rng = random.Random(42)
    pool = [f"line {i} content" for i in range(12)]
    rows = [
        (d, "\n".join(rng.choice(pool) for _ in range(rng.randint(1, 8))))
        for d in range(30)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in line_dedup(df).collect()}

    seen: set[str] = set()
    for d, text in rows:  # rows are already in (doc_id, pos) order
        keep = []
        removed = 0
        for line in text.split("\n"):
            if len(line) < 1:
                keep.append(line)
            elif line not in seen:
                seen.add(line)
                keep.append(line)
            else:
                removed += 1
        assert got[d]["clean_text"] == "\n".join(keep)
        assert got[d]["n_lines_removed"] == removed


def test_gopher_quality_flags(spark):
    """Each Gopher rule triggers independently on a crafted doc."""
    from data_lakehouse_hygiene_spark.operators.text import gopher_quality

    good = "the quick brown fox jumps over that lazy dog with " * 6
    rows = [
        (1, good.strip()),                      # passes everything
        (2, "the of short"),                    # word count too low
        (3, ("a " * 59 + "the of").strip()),    # mean word length < 3
        (4, ("### " * 30 + good).strip()),      # symbol ratio too high
        (5, ("123 " * 50 + "the of").strip()),  # alpha-word ratio < 0.8
        (6, ("zebra " * 60).strip()),           # no stopwords
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in gopher_quality(df).collect()}
    assert got[1]["passes"]
    assert not got[2]["flag_word_count"] and not got[2]["passes"]
    assert not got[3]["flag_mean_word_len"] and not got[3]["passes"]
    assert not got[4]["flag_symbol_ratio"] and not got[4]["passes"]
    assert not got[5]["flag_alpha_ratio"] and not got[5]["passes"]
    assert not got[6]["flag_stopwords"] and not got[6]["passes"]


def test_vocab_topk_ranks_and_shares(spark, monkeypatch):
    """Rank by freq desc then token asc; share/cum_share quantized."""
    from data_lakehouse_hygiene_spark.operators import text

    monkeypatch.setattr(text, "VOCAB_TOP_K", 3)
    rows = [(1, "b b b a a c"), (2, "a c d")]  # a:3 b:3 c:2 d:1, total 9
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = text.vocab_topk(df).orderBy("rank").collect()
    assert [(r["rank"], r["token"], r["freq"]) for r in got] == [
        (1, "a", 3),
        (2, "b", 3),
        (3, "c", 2),
    ]
    assert got[0]["share"] == 0.333333
    assert got[2]["cum_share"] == 0.888889


def test_source_dup_stats_cross_source(spark):
    """Within-source dup rate + cross-source leakage counting."""
    from data_lakehouse_hygiene_spark.operators.dedup import source_dup_stats

    rows = [
        (1, "shared text", "s1"),
        (2, "shared text", "s2"),
        (3, "shared text", "s2"),
        (4, "only in s1", "s1"),
        (5, "only in s2", "s2"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {r["source"]: r for r in source_dup_stats(df).collect()}
    assert got["s1"]["n_docs"] == 2 and got["s1"]["dup_docs"] == 0
    assert got["s1"]["cross_source_docs"] == 1
    assert got["s2"]["n_docs"] == 3 and got["s2"]["n_distinct"] == 2
    assert got["s2"]["dup_docs"] == 1 and got["s2"]["dup_ratio"] == 0.333333
    assert got["s2"]["cross_source_docs"] == 2


def test_ccnet_buckets_terciles(spark):
    """Per-language tercile labels: monotone in lm_score, balanced when
    scores are distinct, tie groups share a bucket."""
    from data_lakehouse_hygiene_spark.operators.text import ccnet_buckets

    # 6 en docs engineered to have distinct bigram-LM scores (varying
    # amounts of corpus-frequent vs corpus-rare bigrams), plus 2 tied
    # single-bigram de docs that must share a bucket.
    rows = [
        (1, "x y x y x y x y", "en"),
        (2, "x y x y x y q r", "en"),
        (3, "x y x y q r s t", "en"),
        (4, "x y q r s t u v", "en"),
        (5, "q r s t u v w a", "en"),
        (6, "m n o p c d e f", "en"),
        (7, "x y", "de"),
        (8, "x y", "de"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = ccnet_buckets(df).collect()
    assert len(got) == 8

    # Independent Python replay of the tercile rule on the observed scores:
    # cum_better = docs in the language with a strictly higher score.
    by_lang: dict = {}
    for r in got:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        n = len(rs)
        for r in rs:
            cum = sum(1 for o in rs if o["lm_score"] > r["lm_score"])
            want = (
                "head"
                if cum * 3 < n
                else ("middle" if cum * 3 < 2 * n else "tail")
            )
            assert r["ppl_bucket"] == want, (lang, r)

    # monotone: ordering en docs by score desc orders the labels
    order = {"head": 0, "middle": 1, "tail": 2}
    en = sorted(by_lang["en"], key=lambda r: (-r["lm_score"], r["doc_id"]))
    labels = [r["ppl_bucket"] for r in en]
    assert labels == sorted(labels, key=order.__getitem__)
    assert labels[0] == "head" and labels[-1] == "tail"
    # tie group: identical scores -> identical bucket (and with ALL de docs
    # tied at the top, cum_better=0 -> everyone is head)
    de = by_lang["de"]
    assert len(de) == 2 and {r["ppl_bucket"] for r in de} == {"head"}


def test_resize_bmp_exact_pixels():
    """Nearest-neighbor BMP resize: exact pixel mapping vs an independent
    Python replay, and the output is a valid container per the decoder."""
    from data_lakehouse_hygiene_spark.operators.multimodal import (
        _resize_bmp,
        decode_media,
        make_bmp,
    )

    w, h = 7, 5
    src = make_bmp(w, h, seed=3)
    out = _resize_bmp(src, 2)
    meta = decode_media(out, "image/bmp")
    ow, oh = w // 2, h // 2
    assert (meta["width"], meta["height"], meta["bpp"]) == (ow, oh, 24)

    in_stride = (3 * w + 3) // 4 * 4
    out_stride = (3 * ow + 3) // 4 * 4
    src_px = src[54:]
    out_px = out[54:]
    for y in range(oh):
        for x in range(ow):
            sx = (y * h // oh) * in_stride + (x * w // ow) * 3
            dx = y * out_stride + x * 3
            assert out_px[dx : dx + 3] == src_px[sx : sx + 3], (x, y)


def test_decimate_wav_exact_samples():
    """Frame sampling keeps exactly every k-th byte and rewrites the rate;
    the output re-decodes as a valid WAV."""
    from data_lakehouse_hygiene_spark.operators.multimodal import (
        _decimate_wav,
        decode_media,
        make_wav,
    )

    src = make_wav(8000, 13, seed=5)
    out = _decimate_wav(src, 4)
    meta = decode_media(out, "audio/wav")
    assert meta["sample_rate"] == 2000
    assert meta["n_samples"] == (13 + 3) // 4 == 4
    src_data = src[44:]  # canonical 44-byte header from make_wav
    out_data = out[44:]
    assert out_data == src_data[::4]


def test_quality_weighted_sample_edges_and_determinism(spark):
    """q=0 never survives, q=1 always survives, and the decision is a pure
    function of the key (stable under repartitioning)."""
    from data_lakehouse_hygiene_spark.operators.sampling import (
        quality_weighted_sample,
    )

    rows = [(i, 0.0 if i % 3 == 0 else (1.0 if i % 3 == 1 else 0.5))
            for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "q"])
    kept = {r["doc_id"] for r in
            quality_weighted_sample(df, "doc_id", "q").collect()}
    assert not any(i % 3 == 0 for i in kept)
    assert all(i in kept for i in range(300) if i % 3 == 1)
    mid = [i for i in kept if i % 3 == 2]
    assert 20 < len(mid) < 80  # ~half of the 100 q=0.5 rows
    kept2 = {r["doc_id"] for r in
             quality_weighted_sample(df.repartition(7), "doc_id", "q").collect()}
    assert kept == kept2


def test_curation_funnel_counts(spark):
    """Stage counts on a crafted corpus: quality gate, repetition gate,
    exact-dedup keeper election, retention ratio."""
    from collections import namedtuple

    import importlib.util as _il
    import sys as _sys

    spec = _il.spec_from_file_location("entry_cf", "/root/repo/__spark_entry__.py")
    mod = _il.module_from_spec(spec)
    _sys.modules["entry_cf"] = mod
    spec.loader.exec_module(mod)
    from data_lakehouse_hygiene_spark.operators import text as t

    good = "the of and that have with " + " ".join(
        f"word{i}" for i in range(54)
    )  # 60 words, all distinct bigrams, stopwords present
    rows = [
        (0, good),                       # passes all, keeper
        (1, good),                       # duplicate of 0 -> deduped
        (2, good + " extra"),            # passes, distinct
        (3, "too short"),                # fails gopher word count
        (4, ("spam " * 60).strip()),     # passes nothing (repetitive, no stopwords)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    g = {r["doc_id"]: r["passes"] for r in t.gopher_quality(df).collect()}
    r_ = {r["doc_id"]: r["keep"] for r in t.repetition_metrics(df).collect()}
    assert g[0] and g[1] and g[2] and not g[3] and not g[4]
    assert r_[0] and not r_[4]

    # replicate the funnel on this crafted frame via the same operators
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    j = df.join(
        t.gopher_quality(df).select("doc_id", "passes"), "doc_id"
    ).join(t.repetition_metrics(df).select("doc_id", "keep"), "doc_id")
    surv = j.where(F.col("passes") & F.col("keep"))
    n3 = surv.count()
    keepers = (
        surv.withColumn("__h", F.md5("text"))
        .withColumn(
            "__k", F.col("doc_id") == F.min("doc_id").over(W.partitionBy("__h"))
        )
        .where("__k")
        .count()
    )
    assert n3 == 3 and keepers == 2  # docs {0,1,2} pass; 1 deduped away


def test_kmeans_converges_on_separated_clusters(spark):
    """Two well-separated 2-D blobs: after 2 Lloyd iterations every point
    sits with its blob regardless of the (id-ordered) init, and the
    assignment is deterministic under repartitioning."""
    from data_lakehouse_hygiene_spark.operators.similarity import (
        kmeans_fit_assign,
    )

    # ids interleave the blobs so the init centroids (2 lowest ids) start
    # one-in-each-blob half the time and both-in-one the other half.
    rows = []
    for i in range(10):
        rows.append((2 * i, [0.9 + 0.001 * i, 0.9 - 0.001 * i]))
        rows.append((2 * i + 1, [-0.9 - 0.001 * i, -0.9 + 0.001 * i]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_fit_assign(df, k=2, n_iter=2).collect()
    }
    blob_a = {got[v] for v in range(0, 20, 2)}
    blob_b = {got[v] for v in range(1, 20, 2)}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b
    got2 = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_fit_assign(
            df.repartition(7), k=2, n_iter=2
        ).collect()
    }
    assert got == got2


def test_incremental_near_dup_flags_and_cap(spark):
    """New docs near-identical to history get flagged with the lowest-id
    qualifying history doc; clean docs pass; a history band bucket above
    the cap (mass-dup cluster) is skipped entirely."""
    from data_lakehouse_hygiene_spark.operators.dedup import (
        incremental_near_dup,
    )

    base = " ".join(f"tok{i}" for i in range(30))
    near = base.replace("tok15", "tokX")
    mass = " ".join(f"mass{i}" for i in range(30))
    hist_rows = [(100, base), (101, base)]  # two qualifying history docs
    hist_rows += [(200 + i, mass) for i in range(40)]  # hot bucket > cap 32
    new_rows = [
        (1, near),                                   # near-dup of history
        (2, mass),                                   # only matches capped bucket
        (3, " ".join(f"fresh{i}" for i in range(30))),  # clean
    ]
    hist = spark.createDataFrame(hist_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in incremental_near_dup(new, hist).collect()}
    assert set(got) == {1}  # doc 2 escapes via the cap, doc 3 is clean
    assert got[1]["dup_of"] == 100  # lowest qualifying history id
    assert got[1]["est_jaccard"] >= 0.5


def test_strip_html_tags_entities_whitespace(spark):
    """Tags removed (counted), entities decoded in the safe order
    (&amp;lt; must NOT double-decode), whitespace collapsed."""
    from data_lakehouse_hygiene_spark.operators.text import strip_html

    rows = [
        (1, '<div class="x"><p>Hello   <b>world</b></p>\n</div>'),
        (2, "a &lt;tag&gt; &quot;q&quot; &#39;s&#39; &amp; done"),
        (3, "tricky &amp;lt; stays-literal"),
        (4, "no markup at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in strip_html(df).collect()}
    assert got[1]["clean_text"] == "Hello world"
    assert got[1]["n_tags_removed"] == 6
    assert got[2]["clean_text"] == "a <tag> \"q\" 's' & done"
    # &amp;lt; -> &lt; (literal text), NOT '<' — amp decodes last
    assert got[3]["clean_text"] == "tricky &lt; stays-literal"
    assert got[4]["clean_text"] == "no markup at all"
    assert got[4]["n_tags_removed"] == 0


def test_round6_operators_empty_input_safe(spark):
    """Every round-6 operator returns a typed EMPTY frame (not an error)
    on empty input — the P10 fail-soft contract extended to the new
    surface."""
    from data_lakehouse_hygiene_spark.operators import sampling, similarity
    from data_lakehouse_hygiene_spark.operators.dedup import (
        incremental_near_dup,
        line_dedup,
        source_dup_stats,
    )
    from data_lakehouse_hygiene_spark.operators.text import (
        ccnet_buckets,
        gopher_quality,
        strip_html,
        vocab_topk,
    )

    docs = spark.createDataFrame(
        [], "doc_id bigint, text string, lang string, source string"
    )
    vecs = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    outs = [
        line_dedup(docs),
        source_dup_stats(docs),
        gopher_quality(docs),
        vocab_topk(docs),
        ccnet_buckets(docs),
        strip_html(docs),
        incremental_near_dup(docs, docs),
        sampling.quality_weighted_sample(
            docs.select("doc_id", F.lit(0.5).alias("q")), "doc_id", "q"
        ),
        similarity.kmeans_fit_assign(vecs, k=2, n_iter=1),
    ]
    for out in outs:
        assert out.count() == 0
        assert len(out.schema.fields) >= 1


def test_kmeans_fewer_rows_than_k_and_k1(spark):
    """k larger than the row count clamps to the row count (the centroid
    update must not index past the init list), and k=1 — the single-arg
    F.least edge — assigns everything to cluster 0."""
    from data_lakehouse_hygiene_spark.operators.similarity import (
        kmeans_fit_assign,
    )

    df = spark.createDataFrame(
        [(0, [0.5, 0.5]), (1, [-0.5, -0.5])], ["vec_id", "embedding"]
    )
    got = {r["vec_id"]: r for r in kmeans_fit_assign(df, k=5, n_iter=2).collect()}
    assert set(got) == {0, 1}
    assert {got[0]["cluster"], got[1]["cluster"]} == {0, 1}  # k clamps to 2
    one = kmeans_fit_assign(df, k=1, n_iter=2).collect()
    assert {r["cluster"] for r in one} == {0}
    assert all(r["dist"] is not None for r in one)


def test_decimate_wav_rejects_16bit():
    """A 16-bit PCM payload must raise, not get byte-sliced mid-sample."""
    import pytest

    from data_lakehouse_hygiene_spark.operators.multimodal import (
        _decimate_wav,
        make_wav,
    )

    src = bytearray(make_wav(8000, 12, seed=1))
    src[34:36] = (16).to_bytes(2, "little")  # bits/sample field in fmt
    with pytest.raises(ValueError, match="8-bit"):
        _decimate_wav(bytes(src), 4)


def test_line_dedup_key_packing_guard(spark):
    """A negative doc_id breaks the packed (doc_id, pos) election key's
    injectivity — the runtime guard of every keep-first operator must
    fail loudly, naming that operator, not mis-elect."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from data_lakehouse_hygiene_spark.operators import dedup

    df = spark.createDataFrame(
        [(-1, "a\nb"), (2, "a\nc")], ["doc_id", "text"]
    )
    hist = spark.createDataFrame([(9, "z")], ["doc_id", "text"])
    ops = {
        "line_dedup": lambda: dedup.line_dedup(df),
        "incremental_line_dedup": lambda: dedup.incremental_line_dedup(
            df, hist
        ),
        "substring_dedup_keep_first": lambda: (
            dedup.substring_dedup_keep_first(df, min_tokens=1)
        ),
    }
    for name, op in ops.items():
        with pytest.raises(
            SparkRuntimeException, match=rf"(?<![a-z_]){name} key packing"
        ):
            op().collect()


def test_fuzzy_pairs_blocking_and_metric(spark):
    """Word-blocked levenshtein pairs: qualifying pair found, non-shared-
    word pair never considered (blocking contract), stopword-capped word
    blocks nothing, counts carried."""
    from data_lakehouse_hygiene_spark.operators.dedup import fuzzy_pairs

    rows = (
        [(i, "cold gear") for i in range(3)]
        + [(i + 10, "old gear") for i in range(2)]
        + [(20, "xyz qrs")]  # shares no word: never a candidate
        + [(21, "old bear")]
    )
    df = spark.createDataFrame(rows, ["p_partkey", "p_name"])
    got = {
        (r["name_a"], r["name_b"]): (r["dist"], r["cnt_a"], r["cnt_b"])
        for r in fuzzy_pairs(df, name_col="p_name", max_dist=2).collect()
    }
    assert got[("cold gear", "old gear")] == (1, 3, 2)
    assert ("old bear", "old gear") in got  # shares "old", dist 2
    assert all("xyz qrs" not in k for k in got)
    # word_cap=1: every word is "hot" → nothing blocks → no pairs
    assert (
        fuzzy_pairs(df, name_col="p_name", max_dist=2, word_cap=1).count()
        == 0
    )


def test_event_debounce_burst_leaders(spark):
    """Only burst leaders survive; gaps are exact integer microseconds;
    different event types debounce independently."""
    import datetime as dt

    from data_lakehouse_hygiene_spark.operators.temporal import (
        event_debounce,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = dt.timedelta(seconds=1)
    rows = [
        (1, 7, "click", t0),
        (2, 7, "click", t0 + 5 * s),    # within 10 s of #1: dropped
        (3, 7, "click", t0 + 9 * s),    # within 10 s of #2: dropped (chain)
        (4, 7, "click", t0 + 30 * s),   # 21 s after #3: kept
        (5, 7, "view", t0 + 2 * s),     # different type: kept
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp_ntz"
    )
    got = {
        r["event_id"]: r["gap_us"]
        for r in event_debounce(df, window_s=10).collect()
    }
    assert set(got) == {1, 4, 5}
    assert got[1] is None and got[5] is None
    assert got[4] == 21_000_000


def test_cosine_pairs_small_norm_screen_soundness(spark):
    """Review-found: the float-GEMM screen's fixed margin silently dropped
    qualifying pairs whose quantized norms are tiny (error scales with
    1/(na·nb)). The norm-scaled margin must keep the kernel equal to the
    Catalyst witness on exactly that input."""
    from data_lakehouse_hygiene_spark.operators import similarity

    df = spark.createDataFrame(
        [(0, [7.8e-07, 0.0, 0.0, 0.0]), (1, [7.8e-07, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = sorted(
        tuple(r)
        for r in similarity.cosine_pairs(df, threshold=0.95).collect()
    )
    want = sorted(
        tuple(r)
        for r in similarity.cosine_pairs_catalyst(
            df, threshold=0.95
        ).collect()
    )
    assert got == want and len(got) == 1  # exact cosq = 1.0 survives


def test_repetition_metrics_null_text_matches_expression_algebra(spark):
    """NULL text: n_tokens/top_frac/keep are NULL but dup_bigram_frac is
    0.0 (the when() falls to otherwise on a NULL predicate — and the SQL
    oracle's CASE agrees)."""
    from data_lakehouse_hygiene_spark.operators.text import (
        repetition_metrics,
    )

    df = spark.createDataFrame(
        [(1, None), (2, "a b a b")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    r1 = got[1]
    assert r1["n_tokens"] is None and r1["top_token_frac"] is None
    assert r1["dup_bigram_frac"] == 0.0 and r1["keep"] is None
    assert got[2]["n_tokens"] == 4


def test_line_dedup_rejects_overflowing_doc_id(spark):
    """doc_id big enough to wrap the packed key must fail loudly, not
    silently mis-elect (non-ANSI multiply wraps)."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from data_lakehouse_hygiene_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [(10_000_000_000, "a\nb")], ["doc_id", "text"]
    )
    with pytest.raises(SparkRuntimeException, match="line_dedup"):
        line_dedup(df).collect()


def test_decimate_wav_fmt_after_data_layout():
    """A valid WAV with the fmt chunk AFTER the data chunk must still
    decimate (decode_media accepts that layout; the bits check must not
    break on it)."""
    from data_lakehouse_hygiene_spark.operators.multimodal import (
        _decimate_wav,
        decode_media,
        make_wav,
    )

    src = make_wav(8000, 12, seed=3)
    # canonical make_wav layout: RIFF(12) + fmt(8+16) + data(8+n).
    fmt_chunk = src[12:36]
    data_chunk = src[36:]
    reordered = src[:12] + data_chunk + fmt_chunk
    assert decode_media(reordered, "audio/wav")["n_samples"] == 12
    out = _decimate_wav(reordered, 4)
    meta = decode_media(out, "audio/wav")
    assert meta["sample_rate"] == 2000 and meta["n_samples"] == 3


def test_mixture_resample_shares_and_determinism(spark):
    """The binding group keeps every row (rate 1), surviving group shares
    track the temperature targets, and the keep decision is a pure
    function of the key (stable under repartitioning)."""
    from pyspark.sql import functions as F

    from data_lakehouse_hygiene_spark.operators.sampling import (
        mixture_resample,
        mixture_weights,
    )

    # skewed groups: tail group is the binding one under alpha=0.5
    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = mixture_resample(df, "source")
    by = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by["small"] == 100  # binding group: keep rate exactly 1
    w = {
        r["source"]: r["weight"]
        for r in mixture_weights(df, "source").collect()
    }
    # expected big-group keep count = w_big * M, M = n_small / w_small
    expect_big = w["big"] * (100 / w["small"])
    assert abs(by["big"] - expect_big) / expect_big < 0.15  # hash-coin noise
    again = {
        tuple(r) for r in mixture_resample(df.repartition(13), "source").collect()
    }
    assert again == {tuple(r) for r in kept.collect()}

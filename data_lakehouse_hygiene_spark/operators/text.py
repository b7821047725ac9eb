"""Text-analysis operators for large-scale training-data pipelines.

These extend the reference's capability surface (it has no text analytics —
the closest is category-label matching at
``/root/reference/elt/prescriptive/prescriptive_logic.py:106,128``) with the
operators an LLM-data pipeline needs: token counting, quality scoring,
language ID, and document fingerprinting.

Engineering rules:
- Everything is native ``pyspark.sql.functions`` column algebra — JVM-side,
  whole-stage-codegen, no Python in the hot path. At 100 TB these run at
  scan speed with zero shuffles (all per-row).
- Every derived value is deterministic and expressible in ANSI SQL so the
  DuckDB oracle can replay it bit-for-bit. Hashes are md5 hex (identical
  across engines); fractional outputs go through the floor-quantize trick
  (``aggregates.quantize``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .aggregates import quantize
from .cleaning import spread
from .ordering import _range_prefix

# A "BPE-ish" pre-tokenizer: letter runs, digit runs, single non-alnum marks.
# Kept RE2-compatible (no backrefs/lookahead) so Spark (Java regex) and
# DuckDB (RE2) count identically.
BPE_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

# Tiny deterministic stopword list drawn from the corpus vocabulary.
STOPWORDS = ("a", "the", "and", "of", "to")

# Marker words per language for the n-gram/stopword language-ID heuristic.
# Deterministic tie-break: first language in this tuple order wins.
LANG_MARKERS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "a", "and", "value", "table")),
    ("de", ("der", "die", "das", "und", "nicht")),
    ("es", ("el", "la", "los", "que", "de")),
    ("fr", ("le", "la", "les", "et", "une")),
    ("zh", ("de", "shi", "bu", "le", "wo")),
)


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the corpus is single-space joined)."""
    return F.split(text, " ")


def project_tokens(df: DataFrame, *keep: str) -> DataFrame:
    """(doc_id, [keep...], text, __toks) with the token split done ONCE.

    Any operator whose lambdas index the token array more than a couple of
    times must read it from this projection: Catalyst inlines a raw
    ``split(text)`` into every element reference inside a ``transform``
    lambda (CollapseProject only merges projections whose multiply-
    referenced expressions are cheap — split is not, so THIS boundary
    survives), and without it an n-gram lambda re-splits the whole text
    O(n_tokens) times per row — measured ~7× wall on the bench corpus.
    """
    return df.select("doc_id", *keep, "text", tokens(F.col("text")).alias("__toks"))


def word_ngrams(n: int, fn: str = "") -> str:
    """SQL for the word ``n``-gram strings of the ``__toks`` array (read
    it from ``project_tokens``' projection boundary): gram i joins tokens
    i..i+n-1 with single spaces, wrapped in the SQL function ``fn`` when
    one is named. The one n-gram builder of the text and dedup
    operators.

    Callers guard on ``size(__toks) >= n``: a shorter array has no grams,
    and neither has a NULL text, whose NULL token array has a NULL size
    (the session pins ``sizeOfNull`` off), so the guard is not true — a
    short-document fallback must still not turn a NULL text into a gram
    (see ``dedup.shingle_rows``)."""
    elems = ", ".join(f"__toks[i + {j}]" for j in range(n))
    return (
        f"transform(sequence(0, size(__toks) - {n}), "
        f"i -> {fn}(concat_ws(' ', {elems})))"
    )


def token_counts(df: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish token counts per document.

    Scale: pure per-row projection — no shuffle, runs at scan throughput.
    """
    t = F.col("text")
    return df.select(
        "doc_id",
        F.size(tokens(t)).alias("n_ws_tokens"),
        F.regexp_count(t, F.lit(BPE_REGEX)).alias("n_bpe_tokens"),
        F.length(t).alias("n_chars_measured"),
    )


def _stopword_hits(toks: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens that appear in ``words`` (with multiplicity)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))


def quality_scores(df: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality heuristic with a CASE
    quality bucket — the A8/A9 score-and-classify shape applied to text.
    """
    df = project_tokens(df, "n_chars")
    t = F.col("text")
    toks = F.col("__toks")
    n_tok = F.size(toks)
    n_chars = F.length(t)
    # single-space joined => chars excluding separators / token count
    avg_tok_len = (n_chars - (n_tok - F.lit(1))).cast("double") / n_tok
    stop_ratio = _stopword_hits(toks, STOPWORDS).cast("double") / n_tok
    non_alnum = F.regexp_count(t, F.lit("[^a-zA-Z0-9 ]")).cast("double")
    punct_ratio = non_alnum / n_chars

    score = (
        F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + F.least(avg_tok_len / F.lit(8.0), F.lit(1.0)) * F.lit(0.3)
        + (F.lit(1.0) - F.least(stop_ratio * F.lit(4.0), F.lit(1.0))) * F.lit(0.2)
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(10.0), F.lit(1.0))) * F.lit(0.1)
    )
    q = quantize(score, 4)
    bucket = (
        F.when(q >= 0.75, F.lit("high"))
        .when(q >= 0.5, F.lit("medium"))
        .otherwise(F.lit("low"))
    )
    return df.select(
        "doc_id",
        F.col("n_chars"),
        n_tok.alias("n_tokens"),
        quantize(avg_tok_len, 4).alias("avg_token_len"),
        quantize(stop_ratio, 4).alias("stopword_ratio"),
        quantize(punct_ratio, 4).alias("punct_ratio"),
        q.alias("quality_score"),
        bucket.alias("quality_bucket"),
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Stopword-marker language ID (n-gram heuristic).

    Per-row, shuffle-free. The argmax over language hit-counts is computed
    with a deterministic first-wins CASE ladder so ties resolve identically
    in any engine.
    """
    df = project_tokens(df)
    toks = F.col("__toks")
    hits = {lang: _stopword_hits(toks, words) for lang, words in LANG_MARKERS}
    best = F.greatest(*hits.values())
    pred = F.lit(None).cast("string")
    # Build the ladder in reverse so earlier languages take precedence.
    for lang, _ in reversed(LANG_MARKERS):
        pred = F.when(hits[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    sel = [F.col("doc_id")]
    sel += [hits[lang].alias(f"hits_{lang}") for lang, _ in LANG_MARKERS]
    sel.append(pred.alias("pred_lang"))
    return df.select(*sel)


def fingerprints(df: DataFrame, spread_input: bool = True) -> DataFrame:
    """Document fingerprinting: full-text md5 plus a rolling-window min-hash
    (winnowing-style): min over md5 of every 5-token shingle.

    Near-identical documents that differ by a few tokens still collide on
    the rolling fingerprint with high probability; the full md5 catches
    exact duplicates only.

    Pure per-row projection (aside from the optional batch-only ``spread``
    repartition), so it also runs on a STREAMING DataFrame with
    ``spread_input=False`` — the basis of ``streaming.near_dup_stream``.
    """
    if spread_input:
        df = spread(df)
    df = project_tokens(df)
    t = F.col("text")
    rolling = F.when(
        F.size("__toks") >= 5, F.array_min(F.expr(word_ngrams(5, "md5")))
    ).otherwise(F.md5(t))
    return df.select(
        "doc_id",
        F.md5(t).alias("exact_md5"),
        rolling.alias("rolling_fp"),
    )


def tfidf_top_terms(df: DataFrame) -> DataFrame:
    """Per-document top-3 terms by tf-idf — the classic corpus-relevance
    signal a training-data pipeline uses for keyword extraction and
    quality filtering.

    Determinism / oracle parity: idf is the RATIONAL form N/df (no
    logarithm — ln is libm-dependent and not bit-stable across engines),
    so score = (tf·N)/df is one exact integer product followed by one IEEE
    division, identical in Spark and DuckDB; quantized to 6 dp before
    ranking, ties broken by term.

    Scale shape: one explode + two hash aggregations (term frequencies per
    (doc, term), then document frequency per term — the df join lands on
    the tf groupBy's own partitioning), one window top-k per doc. N comes
    from a 1-row scalar count (the A10 literal-pushdown pattern).
    """
    n_docs = df.count()
    toks = df.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    score = (F.col("tf") * F.lit(n_docs)) / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        tf.join(dfreq, "term")
        .select("doc_id", "term", quantize(score, 6).alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
    )


# chunk_documents' window: CHUNK_TOKENS tokens per chunk, a new chunk
# every CHUNK_STRIDE tokens (so CHUNK_TOKENS - CHUNK_STRIDE overlap).
CHUNK_TOKENS = 50
CHUNK_STRIDE = 40


def chunk_documents(df: DataFrame) -> DataFrame:
    """Overlapping token-window chunking — the standard preprocessing step
    that turns long documents into training/embedding-sized pieces
    (``CHUNK_TOKENS`` tokens per chunk, ``CHUNK_TOKENS - CHUNK_STRIDE``
    tokens of overlap).

    Pure per-row explode (no shuffle): chunk i covers tokens
    [i·stride, i·stride + size) for every start inside the document; the
    last chunks truncate. Runs at scan throughput at any scale."""
    df = project_tokens(df)
    toks = F.col("__toks")
    n = F.size(toks)
    last = F.floor((n - F.lit(1)) / F.lit(CHUNK_STRIDE)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), last),
        lambda i: F.struct(
            i.cast("bigint").alias("chunk_id"),
            F.slice(toks, i * CHUNK_STRIDE + F.lit(1), CHUNK_TOKENS).alias(
                "ctoks"
            ),
        ),
    )
    ex = df.select("doc_id", F.explode(chunks).alias("c"))
    return ex.select(
        "doc_id",
        "c.chunk_id",
        F.size("c.ctoks").cast("bigint").alias("n_tokens"),
        F.concat_ws(" ", "c.ctoks").alias("chunk_text"),
    )


def repetition_metrics(df: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1, the
    standard "repetitive document" filters in LLM data pipelines):

    - ``top_token_frac``: occurrences of the modal token / total tokens
      (catches "spam spam spam ..." degenerate pages),
    - ``dup_bigram_frac``: fraction of word bigrams that are repeats
      (catches looped boilerplate),
    - ``keep``: both below the Gopher-ish thresholds (0.20 / 0.40).

    Scale: pure in-row higher-order-function compute — O(distinct_tokens ×
    n_tokens) per document, no shuffle, scan throughput at 100 TB. The
    modal count runs in an Arrow ``mapInPandas`` kernel (hash-map counts,
    O(n) per document): the expression-tree form —
    ``array_max(transform(array_distinct, filter-count))`` — is both
    O(distinct·n) per document AND CodegenFallback-interpreted, and
    measured 12 s at sf1 where this kernel measures well under 1 s. The
    Python arithmetic replays the engine expression ops exactly (IEEE
    double division, floor-quantize to 6 decimals, same bigram join), so
    the DuckDB oracle parity is unchanged. ``keep`` names pass-through
    columns (gopher_quality's convention) so composites can chain the
    gates on one scan."""
    import math
    from collections import Counter

    import pandas as pd

    if "keep" in keep:
        raise ValueError("output column 'keep' is reserved")
    in_cols = list(dict.fromkeys(["doc_id", *keep, "text"]))
    src = df.select(*in_cols)
    types = {f.name: f.dataType.simpleString() for f in src.schema.fields}
    out_schema = ", ".join(
        [f"doc_id {types['doc_id']}"]
        + [f"`{k}` {types[k]}" for k in keep]
        + [
            "n_tokens bigint",
            "top_token_frac double",
            "dup_bigram_frac double",
            "keep boolean",
        ]
    )

    def _row(s):
        # exact replay of the expression semantics: split keeps empties,
        # quantize = floor(x·1e6 + 0.5)/1e6 on IEEE doubles
        if s is None:
            # a NULL text's token count is NULL (the oracle's len(NULL);
            # size(NULL) under the session's sizeOfNull pin), so
            # n_tokens/top_frac are NULL, the dup_frac test n >= 2 is
            # NULL and falls to its 0.0 branch (the oracle's CASE WHEN
            # NULL falls through to ELSE), and keep = (NULL <= .2) AND
            # (0.0 <= .4) is NULL
            return (None, None, 0.0, None)
        toks = s.split(" ")
        n = len(toks)
        top = max(Counter(toks).values())
        top_frac = math.floor(top / n * 1e6 + 0.5) / 1e6
        if n >= 2:
            bi = [toks[i] + " " + toks[i + 1] for i in range(n - 1)]
            dup_frac = (
                math.floor((len(bi) - len(set(bi))) / len(bi) * 1e6 + 0.5)
                / 1e6
            )
        else:
            dup_frac = 0.0
        return (n, top_frac, dup_frac, top_frac <= 0.2 and dup_frac <= 0.4)

    def gen(it):
        for pdf in it:
            vals = [_row(s) for s in pdf["text"]]
            out = {"doc_id": pdf["doc_id"]}
            for k in keep:
                out[k] = pdf[k]
            out["n_tokens"] = pd.array(
                [v[0] for v in vals], dtype="Int64"
            )
            out["top_token_frac"] = [v[1] for v in vals]
            out["dup_bigram_frac"] = [v[2] for v in vals]
            out["keep"] = pd.array([v[3] for v in vals], dtype="boolean")
            yield pd.DataFrame(out)

    return src.mapInPandas(gen, out_schema)


# RE2-compatible (no lookahead/backrefs) so Spark's Java regex and any
# RE2-based engine redact identically.
PII_EMAIL_REGEX = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PII_PHONE_REGEX = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def pii_scrub(df: DataFrame) -> DataFrame:
    """C4-style PII redaction: replace email addresses and phone-number
    shapes with typed placeholders and report per-document redaction
    counts. Pure per-row projection (regexp_replace / regexp_count on the
    JVM) — no shuffle beyond the optional ``spread`` fan-out, scan
    throughput; the order (emails first) is part of the contract since
    the phone pattern could otherwise eat digit runs inside an
    already-redacted placeholder's neighborhood.

    The input is ``spread`` first: the five regex passes per row are the
    heaviest per-byte projection in the per-row text family, and a
    single-row-group parquet file runs them all on one core — the data-
    proportional fan-out measured 0.503 → 0.285 s (−43%) at sf0.1
    (interleaved medians)."""
    df = spread(df)
    t = F.col("text")
    n_email = F.regexp_count(t, F.lit(PII_EMAIL_REGEX))
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL_REGEX, "<EMAIL>"),
        PII_PHONE_REGEX,
        "<PHONE>",
    )
    n_phone = F.regexp_count(
        F.regexp_replace(t, PII_EMAIL_REGEX, "<EMAIL>"),
        F.lit(PII_PHONE_REGEX),
    )
    return df.select(
        "doc_id",
        scrubbed.alias("text"),
        n_email.cast("bigint").alias("n_emails_redacted"),
        n_phone.cast("bigint").alias("n_phones_redacted"),
    )


# Tokens per pack_sequences training bin.
PACK_BUDGET = 2048


def pack_sequences(df: DataFrame) -> DataFrame:
    """Sequential sequence packing: documents are laid out in doc_id order
    and assigned to training bins of ``PACK_BUDGET`` tokens by their
    running offset (bin = floor(tokens_before / budget)). A NULL text has
    a NULL token count: it lands in a bin and adds no tokens, as in the
    oracle.

    This is the STREAMING form of packing (a document may straddle a bin
    boundary — trainers truncate or wrap); exact first-fit packing is
    inherently sequential state, which is why production packers run
    exactly this offset formula.

    SCALE DESIGN — distributed prefix sum (no global window): a single
    ``Window.orderBy`` with no partition key funnels the whole corpus
    through one task, the canonical global-window scale-killer. Instead
    ``ordering._range_prefix`` splits the doc_id domain into ordered
    percentile ranges, runs the exclusive running token sum as a
    PARTITIONED window per range, and adds each range's start offset
    (the token totals of the ranges before it, summed in the plan).
    Identical output to the sequential formula, embarrassingly parallel;
    at 100 TB persist the tokenized projection to avoid a second text
    scan."""
    n_tok = F.size(tokens(F.col("text"))).cast("bigint")
    binned = _range_prefix(
        df.select("doc_id", n_tok.alias("n_tok")),
        [F.col("doc_id").asc()],
        ("doc_id", True),
        lambda w: F.coalesce(
            F.sum("n_tok").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("bigint"),
        ),
        F.sum("n_tok"),
        "before",
    )
    bin_id = F.floor(F.col("before") / F.lit(PACK_BUDGET)).cast("bigint")
    return binned.groupBy(bin_id.alias("bin_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def bigram_lm_score(df: DataFrame) -> DataFrame:
    """Per-document quality score from a corpus-trained bigram language
    model: the average conditional probability p(b|a) over the document's
    bigram instances — the distributed shape of CCNet-style perplexity
    filtering, with the LM trained on the corpus itself instead of an
    external model file.

    Determinism across engines (the whole point of the arithmetic): each
    conditional probability is one IEEE double division c2/c1 (correctly
    rounded, identical everywhere), floor-quantized to integer units of
    1e-12; the per-document accumulation then runs over exact BIGINTs and
    only the final average is divided and 6-decimal-quantized. No log —
    libm log is not bit-stable across implementations, so the score is an
    avg probability, monotone-equivalent to perplexity for filtering.

    Scale shape (2 corpus-bounded exchanges deleted in round 9): the
    exploded bigram-instance stream has two consumers — the model build
    and the scoring aggregate — and BOTH aggregate it directly, with no
    intermediate per-document count table. Map-side partial aggregation
    makes that free: each document's instances are task-local (narrow
    lineage from one input row), so the model-build exchange carries
    distinct-bigrams-per-partition (vocabulary-bounded) and the scoring
    exchange carries one partial row per document — the round-8 plan's
    (doc_id, bg) hash aggregate shuffled ~0.9 rows per bigram instance
    per consumer, the largest exchange in the text family (interleaved
    warm A/B at 1.5M docs: 18.5–24 s → 13–16 s, identical output).
    The two consumers' diverging column prunings defeat ReuseExchange,
    so the corpus scan+explode runs once per consumer — and that is the
    FAST plan: an A/B at 5k/50k/500k docs measured a
    ``localCheckpoint``-materialized intermediate consistently slower
    for single consumption, because the materialization barrier
    serializes the DAG while the redundant explode pipelines freely
    across all cores. The corpus bigram count c2's
    a-marginal c1 rides a window PARTITIONED BY the first token over c2
    (one row per distinct bigram, so the partition is
    vocabulary-bounded — never corpus-bounded), and the finished LM
    table — tiny relative to the corpus — BROADCASTS back onto the
    instance stream (the "ship the model to every worker" pattern) for
    one per-doc weighted hash aggregate. No global windows, no
    self-joins, no driver-side model collect.
    """
    return _bigram_scored(df, carry=())


def _bigram_scored(df: DataFrame, carry: tuple[str, ...]) -> DataFrame:
    """``bigram_lm_score``'s pipeline with optional pass-through columns:
    ``carry`` names doc-level columns (functionally dependent on doc_id,
    e.g. lang) threaded through the group keys — same groups, zero extra
    rows, and composites like ``ccnet_buckets`` skip a corpus-sized
    label join."""
    df = project_tokens(df, *carry)
    toks = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - F.lit(2)),
        lambda i: F.struct(
            toks[i].alias("a"), toks[i + F.lit(1)].alias("b")
        ),
    )
    safe = F.when(F.size(toks) >= 2, grams).otherwise(
        F.array().cast("array<struct<a:string,b:string>>")
    )
    inst = df.select("doc_id", *carry, F.explode(safe).alias("bg"))
    c2 = inst.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    c1 = F.sum("c2").over(Window.partitionBy(F.col("bg.a")))
    units = F.floor(
        F.col("c2").cast("double") / c1.cast("double")
        * F.lit(1e12) + F.lit(0.5)
    ).cast("bigint")
    lm = c2.select("bg", units.alias("__units"))
    per_doc = inst.join(F.broadcast(lm), "bg").groupBy(
        "doc_id", *carry
    ).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("__units").alias("__su"),
    )
    score = (
        F.col("__su").cast("double") / F.lit(1e12)
    ) / F.col("n_bigrams").cast("double")
    return per_doc.select(
        "doc_id", *carry, "n_bigrams", quantize(score, 6).alias("lm_score")
    )


# The Gopher rules' stopword list (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", appendix A1.1 quality filtering): a document must
# contain at least two DISTINCT words from this list.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame, keep: tuple[str, ...] = (), spread_input: bool = True
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 §A1.1) as per-document flag
    columns plus the conjunctive ``passes`` verdict — the standard
    pre-training quality gate (50–100,000 words, mean word length 3–10,
    hash/ellipsis symbol ratio ≤ 0.1, ≥80% words containing a letter, ≥2
    distinct stopwords present).

    Scale: pure per-row column algebra over one token projection — no
    shuffle beyond the optional ``spread`` fan-out, runs at scan
    throughput. All fractional values floor-quantized to 4 decimals
    BEFORE threshold comparison, so the flags are engine-portable (the
    oracle compares the same quantized value). ``keep`` names
    pass-through columns so composites (curation_funnel) can chain the
    per-row gates on ONE scan instead of joining them back
    (``text`` itself may be kept — the token projection already carries
    it, so it is only re-emitted, never duplicated).

    ``spread_input``: sf0.1 parquet arrives as ONE row group, so the
    scan planner cannot split it and the whole token/regex projection
    runs on one core; a data-proportional ``spread`` parallelizes it
    (interleaved A/B median 0.715 → 0.560 s at sf0.1). Composites that
    already spread (or stream) pass False.
    """
    if spread_input:
        df = spread(df)
    df = project_tokens(df, *[k for k in keep if k != "text"])
    t = F.col("text")
    toks = F.col("__toks")
    n_words = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x)),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    mean_wl = quantize(sum_len.cast("double") / n_words.cast("double"), 4)
    n_sym = F.regexp_count(t, F.lit("#")) + F.regexp_count(
        t, F.lit("\\.\\.\\.")
    )
    sym_ratio = quantize(
        n_sym.cast("double") / n_words.cast("double"), 4
    )
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]")))
    alpha_ratio = quantize(
        n_alpha.cast("double") / n_words.cast("double"), 4
    )
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    stop_hits = F.size(
        F.filter(stop_arr, lambda w: F.array_contains(toks, w))
    )
    f_wc = (n_words >= 50) & (n_words <= 100_000)
    f_wl = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    f_sym = sym_ratio <= 0.1
    f_alpha = alpha_ratio >= 0.8
    f_stop = stop_hits >= 2
    return df.select(
        "doc_id",
        *keep,
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_word_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        stop_hits.alias("stop_hits"),
        f_wc.alias("flag_word_count"),
        f_wl.alias("flag_mean_word_len"),
        f_sym.alias("flag_symbol_ratio"),
        f_alpha.alias("flag_alpha_ratio"),
        f_stop.alias("flag_stopwords"),
        (f_wc & f_wl & f_sym & f_alpha & f_stop).alias("passes"),
    )


def _term_freq(df: DataFrame) -> DataFrame:
    """(token, freq): the corpus term-frequency table — explode the
    (``spread``) token split, then one map-side-combined hash aggregate
    to the term grain (vocabulary-bounded)."""
    return (
        spread(df)
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _top_terms(tf: DataFrame, n: int) -> DataFrame:
    """The top-``n`` cut of a ``_term_freq`` table (freq desc, token asc):
    TakeOrderedAndProject, never a full sort."""
    return tf.orderBy(F.col("freq").desc(), F.col("token").asc()).limit(n)


# vocab_topk's head size.
VOCAB_TOP_K = 100


def vocab_topk(df: DataFrame) -> DataFrame:
    """Corpus vocabulary head: the ``VOCAB_TOP_K`` most frequent tokens
    with rank, corpus share, and cumulative share — the Zipf-head report a
    tokenizer-budget / data-mixture analysis starts from. (No log-log
    slope on purpose: libm ``log`` is not bit-stable across engines; rank
    and share carry the same signal and are exact-integer + one correctly
    rounded division each.)

    Scale shape: ``_term_freq``; the corpus total is a 1-row rollup of
    that SAME term table (never a second corpus scan) broadcast back onto
    the head. Only the ≤ ``VOCAB_TOP_K`` survivors of the ``_top_terms``
    cut pass through the single-partition ranking window — bounded by
    the head size, not by the vocabulary.
    """
    tf = _term_freq(df)
    total = tf.agg(F.sum("freq").alias("__total"))
    top = _top_terms(tf, VOCAB_TOP_K).crossJoin(F.broadcast(total))
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    return top.select(
        F.row_number().over(w).alias("rank"),
        "token",
        "freq",
        quantize(
            F.col("freq").cast("double") / F.col("__total").cast("double"), 6
        ).alias("share"),
        quantize(
            F.sum("freq").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("double")
            / F.col("__total").cast("double"),
            6,
        ).alias("cum_share"),
    )


def ccnet_buckets(df: DataFrame) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al. 2020):
    score every document with the corpus-trained bigram LM
    (``bigram_lm_score`` — avg conditional probability, monotone in
    perplexity), then label each document head / middle / tail by its
    language-relative tercile. CCNet keeps "head" as the high-quality cut.

    Scale shape — NO per-language global sort: the tercile election runs
    on the (lang, lm_score) DISTINCT-VALUE distribution, which is
    VALUE-bounded (lm_score is 6-decimal-quantized into [0,1], so ≤ 1e6+1
    rows per language regardless of corpus size), never corpus-bounded.
    cum_better = count of strictly-better-scored docs in the language (a
    windowed prefix sum over the distinct-value table); a document lands
    in head if 3·cum_better < n_lang, middle if < 2·n_lang, else tail —
    tie groups share cum_better, so equal scores always share a bucket
    (deterministic, engine-portable). The finished (lang, score → bucket)
    table broadcasts back onto the scored corpus.
    """
    # lang rides the LM aggregates as an extra group key (functionally
    # dependent on doc_id — same groups, zero extra rows), which deletes
    # the corpus-sized scored⋈lang join the round-6 plan paid twice (once
    # per consumer of the labeled corpus). The labeled output has two
    # consumers (the tercile election and the final join); it is one
    # narrow row per doc, so ITS checkpoint is cheap and deletes a whole
    # LM re-execution — that barrier is unconditional. A second
    # checkpoint of the per-doc bigram count table under it measured a
    # LOSS (500k-doc interleaved A/B: median ~22 s against ~17.4 s):
    # with the labeled barrier the LM pipeline runs once either way.
    labeled = _bigram_scored(df, carry=("lang",)).localCheckpoint(eager=False)
    # One exchange for the whole tercile election: hash-partitioning on
    # lang alone satisfies BOTH the (lang, lm_score) groupBy's clustered
    # distribution (lang ⊆ grouping keys ⇒ equal keys co-locate) and the
    # lang-partitioned windows below — without it the plan pays
    # exchange(lang, lm_score) + exchange(lang) back to back.
    dist = (
        labeled.repartition("lang")
        .groupBy("lang", "lm_score")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_prev = (
        Window.partitionBy("lang")
        .orderBy(F.col("lm_score").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_lang = Window.partitionBy("lang")
    cum = F.coalesce(F.sum("cnt").over(w_prev), F.lit(0)).cast("bigint")
    n_lang = F.sum("cnt").over(w_lang).cast("bigint")
    buckets = dist.select(
        "lang",
        "lm_score",
        F.when(cum * 3 < n_lang, F.lit("head"))
        .when(cum * 3 < n_lang * 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )
    return labeled.join(
        F.broadcast(buckets), ["lang", "lm_score"]
    ).select("doc_id", "lang", "lm_score", "ppl_bucket")


# Unicode mess folded by normalize_text: exotic spaces and typographic
# punctuation to their ASCII equivalents, zero-widths/BOM dropped. Literal
# replacements (never regex character classes) so the identical table
# replays byte-for-byte through any engine's replace(); order within the
# table is irrelevant (sources are disjoint single codepoints), but the
# whole table must run BEFORE whitespace collapse so folded NBSPs join
# adjacent space runs.
UNICODE_FOLDS: tuple[tuple[str, str], ...] = (
    (" ", " "),            # no-break space
    (" ", " "),            # en space
    (" ", " "),            # em space
    (" ", " "),            # thin space
    ("​", ""),             # zero-width space
    ("‌", ""),             # zero-width non-joiner
    ("‍", ""),             # zero-width joiner
    ("﻿", ""),             # BOM / zero-width no-break
    ("‘", "'"),            # left single curly quote
    ("’", "'"),            # right single curly quote
    ("“", '"'),            # left double curly quote
    ("”", '"'),            # right double curly quote
    ("–", "-"),            # en dash
    ("—", "-"),            # em dash
    ("…", "..."),          # horizontal ellipsis
)

# C0 control characters minus \t \n \r (those are whitespace, handled by
# the collapse), plus DEL. RE2-compatible hex-escape class — replays in
# both Java regex and DuckDB RE2.
CONTROL_CHARS_RE = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"


def _collapse_ws(t: Column) -> Column:
    """Whitespace runs to one space, trimmed."""
    return F.trim(F.regexp_replace(t, "[ \\t\\r\\n]+", " "))


def normalize_text(df: DataFrame) -> DataFrame:
    """Pre-dedup text normalization — the canonical first transform of a
    crawl→training-text pipeline (CCNet/RefinedWeb both normalize before
    hashing): fold typographic Unicode (curly quotes, dashes, ellipsis,
    exotic spaces) to ASCII, drop zero-widths and C0/DEL control
    characters, collapse whitespace runs, trim. Returns
    (doc_id, norm_text, n_chars_raw, n_chars_norm) — the length delta is
    the cheap "how dirty was this source" signal a pipeline aggregates
    per source before deciding what to recrawl.

    Without this step, exact/near-dup hashing misses byte-level variants
    of the same page (NBSP vs space, curly vs straight quotes are
    different shingles), deflating dedup recall corpus-wide.

    Scale shape: ZERO shuffles — a fixed chain of literal replaces plus
    two regexp passes, whole-stage-codegen per-row work at scan speed.
    Every fold is a single-codepoint literal replace that replays
    identically in the DuckDB oracle; no locale-dependent case mapping,
    no libicu normalization forms (NFC/NFKC are a codec-class dependency
    deliberately out of contract — the fold table is the deterministic,
    engine-portable subset).
    """
    t = F.col("text")
    n_raw = F.length(t).cast("bigint")
    for src, dst in UNICODE_FOLDS:
        t = F.replace(t, F.lit(src), F.lit(dst))
    t = _collapse_ws(F.regexp_replace(t, CONTROL_CHARS_RE, ""))
    return df.select(
        "doc_id",
        t.alias("norm_text"),
        n_raw.alias("n_chars_raw"),
        F.length(t).cast("bigint").alias("n_chars_norm"),
    )


# HTML entities decoded by strip_html, applied IN ORDER: &amp; must decode
# LAST or "&amp;lt;" would double-decode to "<" (the standard single-pass
# pitfall); the oracle replays the same sequence.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def strip_html(df: DataFrame) -> DataFrame:
    """Crawl-page cleanup: remove HTML tags, decode the common entities,
    collapse whitespace — the first transform a crawl→training-text
    pipeline applies. Returns (doc_id, clean_text, n_tags_removed).

    Tag removal is the pragmatic ``<[^>]*>`` regex (markup REMOVAL, not an
    HTML parser — script/style CONTENT survives; a DOM-aware extractor is
    a codec-class dependency this environment lacks). Entities decode in
    the documented order. Pure per-row regex/replace column algebra —
    shuffle-free, scan-speed, and every step replays identically in the
    DuckDB oracle (RE2-compatible pattern, no backrefs).
    """
    t = F.col("text")
    n_tags = F.regexp_count(t, F.lit("<[^>]*>")).cast("bigint")
    cleaned = F.regexp_replace(t, "<[^>]*>", " ")
    for ent, ch in HTML_ENTITIES:
        cleaned = F.replace(cleaned, F.lit(ent), F.lit(ch))
    return df.select(
        "doc_id",
        _collapse_ws(cleaned).alias("clean_text"),
        n_tags.alias("n_tags_removed"),
    )


# Fixed counting alphabet for char_stats: the per-class counts come from
# length-difference (one replace() per class), so the class set must be
# finite and known up front. Characters outside it fold into one "other"
# class — for diversity purposes that UNDER-counts other-heavy documents'
# diversity, which is the conservative direction for a gibberish filter.
CHAR_CLASSES = tuple("abcdefghijklmnopqrstuvwxyz0123456789")


def char_stats(df: DataFrame) -> DataFrame:
    """Per-document character-distribution statistics for encoding- and
    gibberish-detection: class counts (letters/digits/spaces/other),
    distinct-character richness, and the Simpson diversity index
    ``1 - Σ p_c²`` over per-character classes.

    Simpson instead of Shannon entropy BY DESIGN: entropy needs libm
    ``log``, which is not bit-stable across engines (the same rule the
    bigram LM follows); Simpson is Σ of exact BIGINT squares and ONE
    correctly-rounded double division — bit-identical in any engine —
    and is monotone-comparable for the filtering use (mono-character
    spam → 0, uniform text → high).

    Scale shape: ZERO shuffles. Every class count is
    ``length(text) - length(replace(text, c, ''))`` — per-row string
    passes that whole-stage codegen compiles, ~37 scans of each string
    per row. That beats the explode-chars alternative by construction:
    exploding 100 TB of text into per-character rows shuffles 10¹⁴ rows;
    this streams at scan speed with no exchange at all. The counts
    materialize in their own projection (multiply-referenced non-cheap
    expressions — CollapseProject keeps the boundary, same rule as
    ``project_tokens``).

    Both projections are GENERATED SQL parsed by selectExpr, not Column
    algebra: building 37 count columns plus their class sums from Column
    calls costs hundreds of py4j round-trips (~2.8 s of driver-side
    DataFrame construction per call, data-size-independent — the
    ``_swar_bits_sql`` pathology); ~45 parsed strings are each a single
    round-trip.

    The input is ``spread`` first (round 14): ~37 string passes per row
    on a single-row-group parquet input all run on one core — the
    data-proportional fan-out measured 0.833 → 0.539 s (−35%) at sf0.1
    (interleaved medians).
    """
    counts = spread(df).selectExpr(
        "doc_id",
        "cast(length(text) as bigint) AS __n",
        "cast(length(text) - length(replace(text, ' ', '')) as bigint)"
        " AS __c_sp",
        *[
            f"cast(length(text) - length(replace(text, '{c}', ''))"
            f" as bigint) AS __c_{c}"
            for c in CHAR_CLASSES
        ],
    )
    letters = " + ".join(f"__c_{c}" for c in CHAR_CLASSES[:26])
    digits = " + ".join(f"__c_{c}" for c in CHAR_CLASSES[26:])
    oth = f"(__n - ({letters}) - ({digits}) - __c_sp)"
    distinct_known = " + ".join(
        f"(CASE WHEN __c_{c} > 0 THEN 1 ELSE 0 END)" for c in CHAR_CLASSES
    ) + " + (CASE WHEN __c_sp > 0 THEN 1 ELSE 0 END)"
    sumsq = (
        " + ".join(f"__c_{c}*__c_{c}" for c in CHAR_CLASSES)
        + f" + __c_sp*__c_sp + {oth}*{oth}"
    )
    return counts.selectExpr(
        "doc_id",
        "__n AS n_chars",
        f"({letters}) AS n_letters",
        f"({digits}) AS n_digits",
        "__c_sp AS n_spaces",
        f"{oth} AS n_other",
        f"cast({distinct_known} as bigint) AS n_distinct_chars",
        # D-suffixed literals: the SQL parser types bare 1.0 as DECIMAL
        # (unlike F.lit), which would drag the whole chain into decimal
        # arithmetic and break double parity with the oracle.
        f"CASE WHEN __n > 0 THEN "
        f"floor((1.0D - cast({sumsq} as double) / cast(__n*__n as double))"
        f" * 1000000.0D + 0.5D) / 1000000.0D END AS char_simpson",
    )


# Keyword markers for the code-vs-prose router. Matched as whole tokens
# (split on space), never substrings — 'for' inside 'forest' is not a hit.
CODE_KEYWORDS = (
    "def", "return", "if", "else", "for", "while", "class", "import",
    "function", "var", "const", "null", "void", "int", "struct",
)

# Symbol class for code detection; RE2-compatible (no backrefs), '-' last
# so the character class parses identically in Java regex and RE2.
CODE_SYMBOL_RE = "[{}\\[\\]()<>=;:!&|^~#@+*/%-]"


def code_signals(df: DataFrame) -> DataFrame:
    """Code-vs-prose routing signals — the mixture split an LLM data
    pipeline applies before language-specific processing (code gets a
    different tokenizer/quality stack than prose).

    Features are deterministic column algebra: symbol density (brackets/
    operators per char), code-keyword token hits, digit density, and a
    threshold CASE router. Shuffle-free per-row compute at scan speed;
    every expression replays in ANSI SQL (counts are exact integers,
    ratios one double division + floor-quantize).
    """
    df = project_tokens(df)
    t = F.col("text")
    toks = F.col("__toks")
    n_chars = F.length(t).cast("bigint")
    n_tok = F.size(toks)
    n_sym = F.regexp_count(t, F.lit(CODE_SYMBOL_RE)).cast("bigint")
    n_kw = _stopword_hits(toks, CODE_KEYWORDS).cast("bigint")
    n_digit = F.regexp_count(t, F.lit("[0-9]")).cast("bigint")
    sym_ratio = F.when(
        n_chars > 0, quantize(n_sym.cast("double") / n_chars, 4)
    )
    kw_ratio = F.when(n_tok > 0, quantize(n_kw.cast("double") / n_tok, 4))
    digit_ratio = F.when(
        n_chars > 0, quantize(n_digit.cast("double") / n_chars, 4)
    )
    is_code = (
        F.when(
            (F.coalesce(sym_ratio, F.lit(0.0)) > 0.03)
            | (F.coalesce(kw_ratio, F.lit(0.0)) > 0.05),
            F.lit("code"),
        )
        .otherwise(F.lit("prose"))
    )
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_sym.alias("n_symbols"),
        n_kw.alias("n_keywords"),
        n_digit.alias("n_digit_chars"),
        sym_ratio.alias("symbol_ratio"),
        kw_ratio.alias("keyword_ratio"),
        digit_ratio.alias("digit_ratio"),
        is_code.alias("doc_class"),
    )


def boilerplate_ngrams(df: DataFrame, min_docs: int = 20) -> DataFrame:
    """Corpus-level boilerplate mining: word 3-grams that appear in at
    least ``min_docs`` DISTINCT documents, with document frequency and
    total occurrence counts — the discovery pass that feeds template/
    banner removal (C4 and RefinedWeb both strip high-document-frequency
    lines and phrases before dedup).

    Scale shape: one corpus scan → explode n-gram INSTANCES → one
    map-side-combined hash aggregate keyed on (shingle, doc_id) → one
    aggregate keyed on shingle, filtered by the doc-frequency threshold
    BEFORE anything corpus-sized is sorted or collected. The result is
    vocabulary-bounded (shingles above a real threshold are a tiny tail
    of the shingle distribution), so the final ordering sorts a small
    relation. No joins, no windows; at 100 TB this is two partial-agg
    shuffles of shrinking size.
    """
    # n-gram INSTANCES (multiplicity preserved — unlike dedup's
    # shingle_rows, which array_distincts per doc, occurrence totals need
    # every instance). Same split-once projection-boundary discipline.
    sh = F.expr(f"if(size(__toks) >= 3, {word_ngrams(3)}, array())")
    inst = project_tokens(df).select(
        "doc_id", F.explode(sh).alias("shingle")
    )
    per_doc = inst.groupBy("shingle", "doc_id").agg(
        F.count(F.lit(1)).alias("n_in_doc")
    )
    return (
        per_doc.groupBy("shingle")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_in_doc").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "shingle")
    )


# Above this vocabulary size the in-row map-literal encode would bloat
# the plan / codegen; the broadcast-join + reassembly plan takes over.
VOCAB_INLINE_MAX = 4096


def vocab_encode(df: DataFrame, vocab_size: int = 256) -> DataFrame:
    """Tokenize-and-encode — the step that turns a curated corpus into
    model input: build the top-``vocab_size`` corpus vocabulary (ids
    0..V-1 in frequency-desc / token-asc order, ``vocab_topk``'s exact
    ranking) and re-emit every document as its token-id array, with
    out-of-vocabulary tokens mapped to -1.

    Returns (doc_id, ids array<int>, n_tokens, n_unk): the id sequence
    preserves token order, and the OOV count is the coverage diagnostic
    a tokenizer budget is tuned against. A NULL text has no token
    positions, so it is no document.

    Scale shape — TWO value-identical encode plans (tested equal),
    gated on ``vocab_size``:

    - ``vocab_size ≤ VOCAB_INLINE_MAX``: the finished vocab (≤ V rows,
      bounded driver traffic by the caller's own parameter) ships as a
      MAP LITERAL in the plan and the encode is a pure in-row
      ``transform`` over the token array — ZERO corpus shuffles, no
      explode, no reassembly; scan speed at any corpus size. The sf10
      rehearsal measured WHY: the join+reassembly plan paid 19.4 s at
      500k docs, entirely in the corpus-sized (pos, id) regroup; the
      in-row plan deletes that exchange.
    - larger vocabularies (map literals would bloat the plan/codegen):
      the vocab BROADCASTS onto the positional token stream
      (ship-the-model — the corpus never shuffles to meet the vocab)
      and the one corpus-sized shuffle is the per-document reassembly
      groupBy; order is restored by ``array_sort`` over (pos, id)
      structs, not by any cross-partition ordering assumption
      (collect_list order is undefined by contract).

    Both plans build the vocab the same way: ``_term_freq``, then the
    ``_top_terms`` cut (only ≤ V survivors pass the single-partition
    id-assignment window).
    """
    df = df.where(F.col("text").isNotNull())
    base = project_tokens(spread(df))
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    vocab = _top_terms(_term_freq(df), vocab_size).select(
        "token",
        (F.row_number().over(w) - F.lit(1)).cast("int").alias("__vid"),
    )
    unk = F.lit(-1).cast("int")
    if vocab_size <= VOCAB_INLINE_MAX:
        rows = vocab.collect()  # ≤ vocab_size rows — caller-bounded
        toks = F.col("__toks")
        if rows:
            entries = []
            for r in rows:
                entries.append(F.lit(r["token"]))
                entries.append(F.lit(int(r["__vid"])).cast("int"))
            mp = F.create_map(*entries)
            # n_unk counts lookup MISSES (null before the unk coalesce)
            raw = F.transform(toks, lambda t: F.element_at(mp, t))
        else:  # empty corpus vocab: everything is UNK
            raw = F.transform(toks, lambda t: F.lit(None).cast("int"))
        ids = F.transform(raw, lambda x: F.coalesce(x, unk))
        return base.select(
            "doc_id",
            ids.alias("ids"),
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.size(F.filter(raw, lambda x: x.isNull()))
            .cast("bigint")
            .alias("n_unk"),
        )
    pos = base.select(
        "doc_id", F.posexplode("__toks").alias("pos", "token")
    )
    enc = pos.join(F.broadcast(vocab), "token", "left")
    return (
        enc.groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "pos", F.coalesce(F.col("__vid"), unk).alias("id")
                        )
                    )
                ),
                lambda s: s["id"],
            ).alias("ids"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.col("__vid").isNull().cast("bigint")).alias("n_unk"),
        )
        .select("doc_id", "ids", "n_tokens", "n_unk")
    )


def ngram_counts(df: DataFrame, n: int = 3, min_count: int = 2) -> DataFrame:
    """Pruned corpus n-gram frequency table — the raw-count primitive an
    n-gram LM / contamination index / boilerplate miner is built from
    (counts every OCCURRENCE, unlike ``boilerplate_ngrams`` which counts
    per-document presence). Documents shorter than ``n`` tokens contribute
    nothing (standard LM-count convention). Returns ``(ngram, cnt)`` with
    ``cnt >= min_count``.

    Scale shape: positional n-gram construction is an in-row transform
    over the ONCE-split token array (``project_tokens`` pins the split
    behind a projection boundary), then ONE map-side-combined hash
    aggregate to the n-gram grain. The explode is wide (≈ one row per
    corpus token) but never shuffles at that grain: partial aggregation
    collapses each partition to its distinct-ngram table before the
    exchange, so the shuffle carries vocabulary-bounded partials, not
    10¹⁴ token rows. The ``min_count`` prune runs post-aggregate (a
    count cannot be pruned before it exists) but pre-materialization, so
    the singleton tail — the vast majority of distinct n-grams by
    Zipf — never reaches the consumer.
    """
    grams = F.expr(f"if(size(__toks) >= {n}, {word_ngrams(n)}, array())")
    return (
        spread(project_tokens(df))
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= int(min_count))
    )


def cooccurrence_counts(
    df: DataFrame, window: int = 3, min_count: int = 2
) -> DataFrame:
    """Corpus within-window token co-occurrence counts — the primitive
    under word2vec/GloVe-style embedding training and PMI collocation
    mining: for every token position i, count each unordered pair
    {tok[i], tok[j]} with i < j ≤ i+window, summed over the corpus.
    Returns ``(tok_a, tok_b, cnt)`` with ``tok_a <= tok_b``
    (lexicographic member order makes the pair key deterministic and
    engine-portable) and ``cnt >= min_count``.

    Scale shape — same as ``ngram_counts``, one map-side-combined hash
    aggregate: the pair list is built IN-ROW over the once-split token
    array (~``window`` structs per corpus token), the explode is narrow
    (no exchange), and partial aggregation collapses each partition to
    its distinct-pair table before the one shuffle — so the exchange
    carries pair-vocabulary partials, never the 10¹⁴-row token stream.
    Zipf's singleton tail dies at the ``min_count`` filter
    post-aggregate, pre-materialization. No self-join on positions: the
    positional join a word2vec data-prep usually writes (tokens ⋈
    tokens ON |i−j| ≤ w) is quadratic-prone and shuffles twice; in-row
    generation is one narrow pass.
    """
    w = int(window)
    pairs = F.expr(
        "if(size(__toks) >= 2, "
        "flatten(transform(sequence(0, size(__toks) - 2), i -> "
        f"transform(sequence(i + 1, least(i + {w}, size(__toks) - 1)), "
        "j -> struct(least(__toks[i], __toks[j]) AS tok_a, "
        "greatest(__toks[i], __toks[j]) AS tok_b)))), "
        "array())"
    )
    return (
        spread(project_tokens(df))
        .select(F.explode(pairs).alias("p"))
        .groupBy("p.tok_a", "p.tok_b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= int(min_count))
    )


def collocation_lift(
    df: DataFrame,
    window: int = 3,
    min_count: int = 5,
    min_lift: float = 2.0,
) -> DataFrame:
    """Collocation mining on top of ``cooccurrence_counts``: score each
    co-occurring pair by LIFT = p(a,b) / (p(a)·p(b)) — computed as
    (cnt_ab·N) / (cnt_a·cnt_b) over corpus unigram counts — and keep
    pairs with ``lift >= min_lift``. Lift is strictly monotone in PMI
    (PMI = log lift) without the libm ``log`` this engine bans for
    cross-engine bit-parity; the phrase-induction use (word2vec phrase
    merging, tokenizer multi-word vocab candidates) only ranks, so the
    monotone surrogate carries the full signal. Returns
    (tok_a, tok_b, cnt_ab, lift) with lift 6-decimal floor-quantized.

    N is the corpus TOKEN count (unigram normalization); a pair can
    co-occur with up to ``window`` partners per position, so lift here
    is calibrated per-window-slot — consistent across the corpus, which
    is all ranking needs.

    Scale shape: the pair table comes from ``cooccurrence_counts`` (one
    map-side-combined aggregate); the unigram table (``_term_freq``) is
    vocabulary-bounded and BROADCASTS onto the pair table twice (tok_a,
    tok_b legs); N is a 1-row aggregate of the unigram table (never a
    second corpus scan) attached by broadcast cross join. All arithmetic
    is exact BIGINT counts plus one double expression evaluated with the
    identical tree in the oracle.
    """
    co = cooccurrence_counts(df, window, min_count)
    uni = _term_freq(df)
    total = uni.agg(F.sum("freq").alias("__n"))
    lift = (
        F.col("cnt").cast("double") * F.col("__n").cast("double")
    ) / (
        F.col("__ua").cast("double") * F.col("__ub").cast("double")
    )
    return (
        co.join(
            F.broadcast(uni.select(F.col("token").alias("tok_a"),
                                   F.col("freq").alias("__ua"))),
            "tok_a",
        )
        .join(
            F.broadcast(uni.select(F.col("token").alias("tok_b"),
                                   F.col("freq").alias("__ub"))),
            "tok_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "tok_a", "tok_b", F.col("cnt").alias("cnt_ab"),
            quantize(lift, 6).alias("lift"),
        )
        .where(F.col("lift") >= float(min_lift))
    )


def _merge_pair(syms: tuple, a: str, b: str) -> tuple:
    """``syms`` with each adjacent ``(a, b)`` replaced by ``a + b``,
    leftmost first (so "aaa" with (a, a) gives ("aa", "a"))."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _bpe_merge_word(word: str, ranks: dict) -> tuple:
    """Reference BPE apply for one word: repeatedly merge the
    lowest-rank adjacent symbol pair (all its occurrences, leftmost
    first) until no learnable pair remains. Pure function of
    (word, ranks); it shares ``_merge_pair`` with the trainer so
    train/encode can never drift."""
    syms = tuple(word)
    while len(syms) > 1:
        best = None
        for a, b in zip(syms, syms[1:]):
            r = ranks.get((a, b))
            if r is not None and (best is None or r < best[0]):
                best = (r, a, b)
        if best is None:
            break
        syms = _merge_pair(syms, best[1], best[2])
    return syms


# bpe_train's cap on the word-type table it collects.
BPE_MAX_TYPES = 50_000


def bpe_train(df: DataFrame, n_merges: int = 50) -> DataFrame:
    """Learn a BPE merge table from the corpus (Sennrich et al. 2016,
    without the end-of-word marker): returns ``(rank, left, right,
    pair_count)`` — ``rank`` is merge order (0 = first), ``pair_count``
    the frequency mass the pair had when elected.

    Scale shape — the corpus is touched ONCE, distributed: the
    ``_term_freq`` aggregate to the word-TYPE grain (Heaps-law sublinear
    in corpus size), capped by ``_top_terms`` to the ``BPE_MAX_TYPES``
    most frequent non-empty types (deterministic; frequency-capped type
    tables are how production tokenizer trainers bound memory, and the
    dropped tail holds negligible pair mass by Zipf). The merge election
    loop then runs driver-side over that BOUNDED table — ≤
    ``BPE_MAX_TYPES`` rows collected, corpus-size-independent — because
    each merge depends on the previous one (inherently sequential;
    distributing it would be ``n_merges`` full jobs for work a single
    core finishes in seconds on a capped table). Election tie-break:
    (count desc, left asc, right asc), engine-portable.
    """
    cap = _top_terms(
        _term_freq(df).where(F.length("token") > 0), BPE_MAX_TYPES
    )
    types = [(r["token"], int(r["freq"])) for r in cap.collect()]
    word_syms = {w: tuple(w) for w, _ in types}
    merges = []
    for rank in range(int(n_merges)):
        counts: dict = {}
        for w, freq in types:
            syms = word_syms[w]
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + freq
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, cnt))
        for w, syms in word_syms.items():
            if left in syms and right in syms:
                word_syms[w] = _merge_pair(syms, left, right)
    return df.sparkSession.createDataFrame(
        merges, "rank int, left string, right string, pair_count bigint"
    )


def bpe_encode(df: DataFrame, merges: DataFrame) -> DataFrame:
    """Apply a learned BPE merge table to the corpus: returns
    ``(doc_id, bpe_tokens array<string>, n_bpe_tokens)``; a NULL text
    gives NULL tokens and a NULL count.

    Scale shape: the merge table is ≤ ``n_merges`` rows — collected once
    on the driver (bounded by construction) and shipped to every task in
    the kernel's closure, never joined. The apply itself is an Arrow
    ``mapInPandas`` kernel (merge application is an inherently iterative
    per-word loop — no leftmost-greedy-correct expression form exists in
    portable column algebra; a chained ``replace`` mis-merges across
    symbol boundaries, and a fold-per-merge is CodegenFallback-
    interpreted at the same cost with none of the clarity): per batch a
    word→tokens memo collapses the Zipf head, so each distinct word in a
    batch pays the merge loop once regardless of its token frequency.
    Shuffle-free; scan throughput at 100 TB.
    """
    import pandas as pd

    ranks = {
        (r["left"], r["right"]): int(r["rank"]) for r in merges.collect()
    }

    def gen(it):
        memo: dict = {}
        for pdf in it:
            toks_out = []
            for s in pdf["text"]:
                if s is None:
                    toks_out.append(None)
                    continue
                enc = []
                for w in s.split(" "):
                    if not w:
                        continue
                    got = memo.get(w)
                    if got is None:
                        got = _bpe_merge_word(w, ranks)
                        memo[w] = got
                    enc.extend(got)
                toks_out.append(enc)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "bpe_tokens": toks_out,
                    "n_bpe_tokens": pd.array(
                        [None if t is None else len(t) for t in toks_out],
                        dtype="Int64",
                    ),
                }
            )

    return df.select("doc_id", "text").mapInPandas(
        gen, "doc_id bigint, bpe_tokens array<string>, n_bpe_tokens bigint"
    )

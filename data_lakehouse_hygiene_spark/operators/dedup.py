"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The reference has no dedup (its tables are single-user scale); these are the
first-class LLM-pipeline extensions. All hashing is md5-hex (bit-identical
in Spark and DuckDB) so every operator is oracle-checkable.

Scale design (100 TB corpus):
- Exact dedup: hash-groupBy on a digest — one shuffle of (digest, doc_id),
  map-side partial aggregation, no text movement.
- MinHash: signatures are per-document aggregates over *array-local*
  distinct shingles (``array_distinct`` before explode — no pre-shuffle
  dedup); one shuffle by doc_id, then the LSH band explode is narrow.
  Candidate pairs are generated in-row per (band, band_key) bucket —
  never an O(n²) cross join; hot buckets (mass-duplicate clusters) are
  capped at ``BUCKET_CAP`` and routed to exact dedup instead.
- n-gram Jaccard: Jaccard over shingles with document frequency ≤
  ``DF_CAP`` (boilerplate shingles carry no signal and blow up k²/2);
  O(capped shingle multiplicity), not O(n²).
- SimHash: per-row 64-bit signature (pure projection), near-dup via 8×8-bit
  prefix-band blocking with pigeonhole-guaranteed recall at Hamming ≤ 7.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .aggregates import quantize
from .cleaning import _estimated_bytes, spread
from .text import tokens, word_ngrams

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS

# Linear-congruential minhash family over one md5-derived base hash:
# h_j = (A_j * (h mod 2^31) + B_j) mod P. One md5 per shingle instead of
# N_HASHES — the md5 was the dominant signature cost. Constants are fixed
# (shared verbatim with the oracle SQL); P is the Mersenne prime 2^31-1.
MINHASH_P = 2_147_483_647
MINHASH_AB: tuple[tuple[int, int], ...] = tuple(
    ((j * 2 + 1) * 40_503 + 12_289, j * 9_176 + 777) for j in range(N_HASHES)
)


def base_hash(s: Column) -> Column:
    """Portable 60-bit integer hash: first 15 hex chars of md5, identical to
    DuckDB's ``('0x' || substr(md5(s),1,15))::BIGINT``."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def content_key128(col: Column) -> tuple[Column, Column]:
    """128-bit content-equality key as TWO independent xxhash64 lanes —
    for INTERNAL digests only (keys that never appear in output and are
    never replayed by an oracle; equality is their whole contract).

    Round 14 (optimization guide §2.3, narrower types / §1.2, per-task
    work): md5-hex cost ~0.19 s per position-stream pass at sf0.1 vs
    ~0 for xxhash64 (crypto vs non-crypto), and its 32-char hex string
    is ~3x the wire width of two longs on every exchange and join key
    compare. Two lanes keep md5-class collision safety FOR
    NON-ADVERSARIAL DATA: the probability two distinct contents share
    BOTH lanes is ~2^-128-ish, so at 10^12 keys (100 TB position
    streams) expected collisions stay ~1e-15 — one 64-bit lane alone
    would expect ~10^4 there, which for exact operators is a wrong
    answer, not a slowdown.

    NON-ADVERSARIAL-INPUT ASSUMPTION (round-15, per the round-14
    advisory): xxhash64 is not cryptographic and lane 2 is the same
    function under a derived seed, so the ~2^-128 math holds for
    random/benign content only — an adversary who studies the function
    could in principle CRAFT corpus content that collides in both lanes
    simultaneously, silently merging distinct lines/spans in the exact
    operators keyed here (line_dedup, the substring family,
    incremental_line_dedup, ngram_jaccard's shingle keys). Pipelines
    that dedup hostile/untrusted submissions where an attacker benefits
    from forcing a merge should swap this for a keyed or cryptographic
    digest (md5/sha/SipHash with a secret key) at the call sites — the
    keys are internal, so the swap changes no output contract.

    The seed-PREFIX trick makes the lanes independent:
    ``xxhash64(lit(1), s)`` folds the literal into the running seed
    BEFORE the content bytes, i.e. lane 2 = XxHash64(s, seed') with a
    different effective seed. (``xxhash64(s, lit(1))`` would post-mix
    lane 1's value and inherit every lane-1 collision.)
    """
    return F.xxhash64(col), F.xxhash64(F.lit(1), col)


def _inrow_pairs(arr: str, fields: str) -> Column:
    """Exploded in-row a<b pairs of the array column ``arr``, aliased
    ``p``: one ``struct(fields)`` per pair of elements x = arr[i],
    y = arr[j] with i < j. The pair generator of every join-free pair
    miner here — sort ``arr`` first for a deterministic pair order; rows
    per array are size·(size-1)/2, so callers bound the array."""
    return F.explode(
        F.expr(
            f"flatten(transform({arr}, (x, i) -> "
            f"transform(slice({arr}, i + 2, size({arr})), y -> "
            f"struct({fields}))))"
        )
    ).alias("p")


def exact_dedup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by content digest: one row per distinct normalized text,
    keeping the smallest doc_id as canonical representative."""
    digest = F.md5(F.lower(F.trim(F.col(text_col))))
    return (
        df.select(digest.alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def incremental_dedup(
    new_df: DataFrame, history_df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Rows of ``new_df`` whose (normalized) content digest does NOT appear
    in ``history_df`` — the incremental form of exact dedup: dedup each
    incoming batch against the already-ingested corpus without re-reading
    the corpus text.

    Scale shape: the history side collapses to DISTINCT 16-byte digests
    (one hash agg over history — in a real deployment this digest set is a
    maintained table, written once per batch, so the daily cost is the NEW
    batch only), then a LEFT ANTI equi-join on the digest. Spark plans the
    anti join hash-partitioned on the digest — perfectly uniform keys (md5),
    no skew by construction. When the history digest set is small enough it
    broadcasts; at 100 TB-corpus scale, keep it partitioned and let the
    anti join shuffle the (digest, doc_id) pairs of the new batch only —
    or pre-filter with a Bloom filter built over the digest table and
    anti-join the survivors (same semantics; the Bloom pass only removes
    guaranteed-novel rows early).
    """
    digest = F.md5(F.lower(F.trim(F.col(text_col))))
    hist = history_df.select(digest.alias("__digest")).distinct()
    return new_df.withColumn("__digest", digest).join(
        hist, "__digest", "left_anti"
    ).drop("__digest")


def shingle_rows(
    df: DataFrame, text_col: str = "text", n: int = 3, alias: str = "s"
) -> DataFrame:
    """Exploded (doc_id, shingle) rows: the DISTINCT word n-grams of each
    document (``text.word_ngrams``), with the token array split ONCE.
    Documents shorter than ``n`` tokens contribute the whole text as one
    shingle (so they still participate in dedup); a NULL text has no
    shingles at all, so it is filtered out before the split.

    The split is pinned in its own projection so Catalyst cannot inline it
    into the shingle lambda: CollapseProject keeps the boundary because a
    non-cheap expression (split) is referenced more than once above it.
    Without the boundary, every one of the ~n element accesses per shingle
    re-runs the split over the whole text — an O(n_tokens·n) scan-side
    blowup measured at ~7× wall on the bench corpus.
    """
    # Backtick-quote the column identifier (doubling any embedded backtick)
    # so names with spaces/dots/SQL metachars parse as identifiers, not SQL.
    ident = "`" + text_col.replace("`", "``") + "`"
    sh = F.expr(
        f"if(size(__toks) >= {n}, array_distinct({word_ngrams(n)}), "
        f"array({ident}))"
    )
    t = F.col(text_col)
    return (
        df.where(t.isNotNull())
        .select("doc_id", t, tokens(t).alias("__toks"))
        .select("doc_id", F.explode(sh).alias(alias))
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", n_hashes: int = N_HASHES
) -> DataFrame:
    """MinHash signature per document: component j = min over shingles of
    the j-th linear-congruential rehash of one md5-derived base hash.

    One md5 + N cheap integer transforms per shingle (instead of N md5s);
    the min-aggregate is a single map-side-combining hash aggregate.

    The N rehash aggregates are generated SQL strings (one expr parse
    each) — composing them from Column calls cost ~0.5 s of driver-side
    py4j round-trips per query call (see _swar_bits_sql for the measured
    pattern)."""
    # cost=2: 16 LCG rehash aggregates per shingle row (see spread()'s
    # round-14 width sweep — minhash median 0.44 → 0.36 s at the 2×
    # width at sf0.1, value-identical output).
    df = spread(df, cost=2)
    ex = shingle_rows(df, text_col).select(
        "doc_id", (base_hash(F.col("s")) % F.lit(2**31)).alias("h")
    )
    aggs = [
        F.expr(f"min(({a} * h + {b}) % {MINHASH_P}) AS h{j}")
        for j, (a, b) in enumerate(MINHASH_AB[:n_hashes])
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def lsh_bands(sig: DataFrame) -> DataFrame:
    """Explode a signature frame into (doc_id, band, band_key, sig array).

    Band array and signature array are generated SQL strings — the
    Column-call form cost ~80 py4j round-trips per query call (see
    _swar_bits_sql for the measured pattern)."""
    sig_arr = F.expr(
        "array(" + ",".join(f"h{j}" for j in range(N_HASHES)) + ") AS sig"
    )
    bands = F.expr(
        "array("
        + ",".join(
            f"struct({b} AS band, md5(concat_ws('|', "
            + ", ".join(
                f"cast(h{b * ROWS_PER_BAND + r} as string)"
                for r in range(ROWS_PER_BAND)
            )
            + ")) AS band_key)"
            for b in range(N_BANDS)
        )
        + ")"
    )
    return sig.select(
        "doc_id", sig_arr, F.explode(bands).alias("bk")
    ).select("doc_id", "sig", "bk.band", "bk.band_key")


BUCKET_CAP = 32


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs: docs sharing ≥1 LSH band bucket,
    scored by estimated Jaccard (fraction of equal signature components).

    Only docs agreeing on a full band ever meet — never an all-pairs join.
    Candidates are generated IN-ROW per band bucket: one groupBy on
    (band, band_key) collects the bucket's (doc_id, sig) structs (sorted,
    so pair order is deterministic) and array lambdas emit the a<b pairs —
    the signature subtree is evaluated ONCE (a self-join would evaluate it
    twice) and bucket memory is bounded by ``bucket_cap``.

    Hot-bucket cap: a band bucket with more than ``bucket_cap`` docs means
    that many documents share an identical 4-component signature band —
    at corpus scale that is a mass-duplication cluster whose k² pair
    output carries no ranking signal (est_jaccard ≈ 1 for all of them);
    such clusters belong to ``exact_dedup_groups``, so buckets above the
    cap are dropped. The oracle SQL applies the identical cap, and the
    planted near-dup pairs sit in buckets of ≤3 docs (test-asserted).

    est_jaccard is identical for every band a pair collides in, so the
    de-dup of candidate pairs is a plain groupBy max.
    """
    b = lsh_bands(minhash_signatures(df, text_col))
    grp = (
        b.groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sig"))).alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= bucket_cap))
    )
    combos = _inrow_pairs(
        "ds",
        "x.doc_id AS doc_a, y.doc_id AS doc_b, "
        "size(filter(zip_with(x.sig, y.sig, (u, v) -> u = v), t -> t)) AS eq",
    )
    est = F.col("p.eq").cast("double") / F.lit(float(N_HASHES))
    return (
        grp.select(combos)
        .select("p.doc_a", "p.doc_b", est.alias("est_jaccard"))
        .groupBy("doc_a", "doc_b")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


DF_CAP = 100


# Estimated-input-bytes crossover between the two ngram_jaccard plan
# shapes (see ngram_jaccard_pairs docstring). At or below: the 2-scan
# broadcast form (branches overlap on idle cores, scans are page-cached —
# measured 1.59 vs 1.94 s interleaved min-of-5 at sf0.1). Above: the
# single-scan form (scan I/O is real and 2x scan + 2x shingle exchange
# costs more than 1x scan + 2 exchanges).
NGRAM_SINGLE_SCAN_BYTES = 8 * 1024**3
# Above this input estimate, the broadcast-path candidate explode gets an
# explicit-width redistribution (one tiny extra exchange); below it, the
# whole candidate set fits a task or two and the exchange is pure latency.
NGRAM_SPREAD_EXPLODE_BYTES = 64 * 1024**2


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    df_cap: int = DF_CAP,
) -> DataFrame:
    """Exact n-gram Jaccard similarity over INFORMATIVE shingles, join-free
    on the fact side.

    Hot-shingle cap: a shingle appearing in more than ``df_cap`` documents
    (boilerplate — "all rights reserved …") yields k(k-1)/2 candidate pairs
    while carrying no similarity signal; at corpus scale one such shingle
    is a job-killer. The similarity definition is therefore Jaccard over
    the shingle sets RESTRICTED to shingles with document frequency ≤
    ``df_cap`` — applied consistently to intersections AND set sizes, and
    mirrored verbatim in the oracle SQL. On the test corpus max df is 7,
    so the planted pairs are unaffected (test-asserted).

    Common plan spine: explode shingles, compute per-shingle df as a
    PARTIAL-AGG rollup (``groupBy(s).count()`` — map-side combine
    collapses a mass-duplicated shingle to one row per map task before
    the exchange) filtered to df ≤ cap, and join it back onto the
    shingle stream (shuffle-hash, so AQE skew-split divides a hot
    probe partition across tasks). Round 14 de-skew: the previous COUNT
    window partitioned by the raw shingle stream serialized ALL
    occurrences of a boilerplate shingle into ONE WindowExec task —
    windows are never AQE-skew-splittable — which sorted and spilled
    the hot key before the cap could drop it; the rollup+join shape
    keeps every task bounded at the cost of a second (column-pruned)
    scan for the df branch. Then the a<b pairs generate inside the row
    with array lambdas: the per-shingle doc list is bounded by
    ``df_cap``, so no unbounded collect_list; pair rows per shingle are
    bounded by df_cap²/2.

    TWO plan shapes for the Jaccard denominator, value-identical
    (test-asserted), selected by the optimizer's estimated input size
    against ``NGRAM_SINGLE_SCAN_BYTES``:

    - at or below it (small inputs): per-doc sizes become a tiny size
      table broadcast-joined onto the pairs. The size table's branch
      re-runs the shingle explode over a second corpus scan (2 scans;
      round 15's LEFT size joins removed the third, see
      ``_ngram_pairs_broadcast_sizes``) — but the branches run
      CONCURRENTLY on idle cores over page-cached parquet, so wall time
      ≈ max(branch), not sum. Measured 1.59 s vs the single-scan form's
      1.94 s at sf0.1 (interleaved min-of-5; round 5 shipped
      single-scan unconditionally and regressed 1.67×).
    - above it (large inputs): per-doc capped set sizes ride
      a SECOND count window (partitioned by doc_id) on the same stream
      and travel inside the collect_list structs through pair
      generation — 1 scan, 5 exchanges, no joins. At 100 TB the cluster
      has no idle cores to hide a second scan behind, and
      2·(scan + shingle-exchange) > 1·scan + 2 exchanges, so the linear
      chain wins; a localCheckpoint hybrid measured slower still (it
      materializes the full shingle stream)."""
    est = _estimated_bytes(df)
    df = spread(df)
    # Key the exploded shingle stream by the 128-bit xxhash pair instead
    # of the raw shingle string (round 14): "s" is equality-only from
    # here on (it never reaches output), and the pair gives fixed-width
    # 16-byte exchange/join keys in place of variable-length strings —
    # see content_key128 for the collision math.
    s1, s2 = content_key128(F.col("s"))
    sh = shingle_rows(df, text_col).select(
        "doc_id", s1.alias("s1"), s2.alias("s2")
    )
    dfc = (
        sh.groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= df_cap)
    )
    sh_ok = sh.join(dfc.hint("shuffle_hash"), ["s1", "s2"])
    if est <= NGRAM_SINGLE_SCAN_BYTES:
        return _ngram_pairs_broadcast_sizes(
            sh_ok, threshold, spread_explode=est > NGRAM_SPREAD_EXPLODE_BYTES
        )
    sh_n = sh_ok.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    pair_lists = (
        sh_n.where(F.col("df") >= 2)
        .groupBy("s1", "s2")
        .agg(
            F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ds")
        )
        .where(F.size("ds") >= 2)
    )
    # Explicit-width exchange before the pair explode. The capped lists are
    # tiny (≤ df_cap structs each), so AQE coalesces the groupBy output to a
    # handful of partitions — and the ~df_cap²/2-per-list explode below then
    # runs on that handful of cores (measured at sf30: 13.3M candidate rows
    # on 5 partitions, max 4.1M on one). Redistributing the LISTS costs one
    # tiny narrow-row shuffle; an explicit numPartitions is exempt from AQE
    # coalescing, so the explode's fan-out lands evenly across the cluster.
    pair_lists = pair_lists.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "s1", "s2"
    )
    combos = _inrow_pairs(
        "ds", "x.doc_id AS doc_a, y.doc_id AS doc_b, x.n AS na, y.n AS nb"
    )
    inter = (
        pair_lists.select(combos)
        .select("p.doc_a", "p.doc_b", "p.na", "p.nb")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.any_value("na").alias("na"),
            F.any_value("nb").alias("nb"),
        )
    )
    j = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return inter.select(
        "doc_a", "doc_b", quantize(j, 6).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


def _ngram_pairs_broadcast_sizes(
    sh_ok: DataFrame, threshold: float, spread_explode: bool = False
) -> DataFrame:
    """Small-input ngram_jaccard tail: per-doc sizes as a broadcast size
    table (see ngram_jaccard_pairs docstring for the crossover analysis).
    ``sh_ok`` is the capped (doc_id, s1, s2, df) shingle stream.

    ``spread_explode``: redistribute the pair lists before the candidate
    explode (same AQE-coalesce rationale as the single-scan path). Gated
    because the extra exchange is pure fixed latency at bench scale where
    the whole candidate set fits one task anyway; the caller turns it on
    from the same size estimate that picks the plan shape."""
    sizes = sh_ok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ds = F.array_sort(F.collect_list("doc_id"))
    pair_lists = (
        sh_ok.where(F.col("df") >= 2)
        .groupBy("s1", "s2")
        .agg(ds.alias("ds"))
        .where(F.size("ds") >= 2)
    )
    if spread_explode:
        pair_lists = pair_lists.repartition(
            sh_ok.sparkSession.sparkContext.defaultParallelism, "s1", "s2"
        )
    inter = (
        pair_lists.select(_inrow_pairs("ds", "x AS doc_a, y AS doc_b"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    # LEFT joins, not inner (round 15, guide §2.4): an INNER size attach
    # pushes IsNotNull(doc_id) into the size table's subtree all the way
    # down to the scan, which makes the sizes branch's scan + split +
    # shingle + hash + exchange chain canonicalize differently from the
    # pair branch's — AQE then materializes BOTH chains (3 parquet scans
    # in the final plan). With LEFT joins nothing is pushed, the probe
    # exchange is reused, and the whole sizes branch reads the already-
    # materialized shingle stage (2 scans; plan evidence in
    # plans/r15/ngram_jaccard_after.txt). Value-identical either way:
    # every inter row's docs own >= 1 capped shingle so the join always
    # matches, and even a hypothetical miss yields NULL jaccard, which
    # the >= threshold filter drops exactly like the inner join did.
    # Bench-neutral at sf0.1 (idle cores hid the duplicate chain:
    # interleaved medians 1.326 vs 1.317 s); at corpus scale the removed
    # chain is a full extra pass over the input.
    return (
        inter.join(F.broadcast(sa), "doc_a", "left")
        .join(F.broadcast(sb), "doc_b", "left")
        .select("doc_a", "doc_b", quantize(j, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def contamination_check(
    df: DataFrame,
    bench_pred: Column,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: which corpus documents share word-3-gram
    shingles with a held-out benchmark set (``bench_pred`` selects the
    benchmark rows) — the overlap check every training pipeline runs
    before releasing a dataset.

    Plan: the benchmark / candidate split happens BEFORE the shingle
    explode — each side is a filtered scan exploded once, so the corpus
    is exploded exactly once on the candidate side and the (tiny,
    pushdown-pruned) benchmark side separately. The earlier form exploded
    the WHOLE corpus on both sides and filtered afterwards via doc_id
    joins (4 scans, 2 full explodes in the plan). The shingle equi-join
    then broadcasts the BENCHMARK side (benchmarks are small by
    construction), and one aggregate per contaminated doc finishes. No
    O(n²) anywhere; candidate text never moves — only (doc_id, shingle)
    pairs. The candidate filter is NULL-safe-negated so rows where
    ``bench_pred`` is NULL stay candidates (matching the anti-join
    semantics of the membership formulation)."""
    bench_sh = shingle_rows(df.where(bench_pred), text_col).select(
        F.col("doc_id").alias("bench_doc"), "s"
    )
    cand_sh = shingle_rows(
        df.where(F.coalesce(~bench_pred, F.lit(True))), text_col
    )
    return (
        cand_sh.join(F.broadcast(bench_sh), "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("s").alias("n_shared_shingles"),
            F.countDistinct("bench_doc").alias("n_benchmark_docs"),
        )
    )


def connected_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b", max_iter: int = 50,
    algorithm: str = "propagate",
) -> DataFrame:
    """Dedup CLUSTERS from a near-dup pair graph: every document that
    appears in ≥1 pair gets ``cluster_id`` = the smallest doc_id reachable
    through the pair edges (connected components by min-label).

    Production dedup needs this step — pairwise output alone double-counts
    (A~B, B~C must collapse to one keeper, even when A~C was never
    emitted). Two algorithms, property-tested equal:

    - ``"propagate"`` (default): iterative min-label propagation — each
      round every node takes the min of its own and its neighbors'
      labels; fixpoint after ``diameter`` rounds. Right for near-dup
      graphs, whose clusters are shallow (planted chains here converge
      in ≤3 rounds).
    - ``"star"``: the alternating large-star/small-star formulation
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC'14) — each round hooks every node to the minimum of its
      neighborhood, which HALVES long paths instead of shortening them
      by one: O(log n) rounds on any diameter, the web-scale choice
      when components can be deep (URL graphs, co-citation). Same join
      shape per round (edge ⋈ per-node min), one extra exceptAll for
      the convergence check.

    Each round materializes via ``localCheckpoint`` to truncate lineage
    (else the plan doubles per iteration).

    The declared query's oracle computes the identical fixpoint as a
    DuckDB recursive CTE (transitive closure + min per node) — exact
    parity for a genuinely iterative algorithm, whichever plan ran.
    """
    if algorithm == "star":
        return _connected_components_star(pairs, a, b, max_iter)
    if algorithm != "propagate":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    e = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    edges = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("lbl").alias("nl"))
        )
        new = (
            labels.join(neigh, labels["node"] == neigh["u"], "left")
            .select(
                "node",
                F.col("lbl").alias("prev"),
                F.least(F.col("lbl"), F.coalesce("nl", "lbl")).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new.where(F.col("lbl") != F.col("prev")).count()
        labels = new.select("node", "lbl")
        if changed == 0:
            break
    else:
        # Falling through with changed > 0 would silently return WRONG
        # labels (a component wider than max_iter rounds not yet merged).
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter or switch "
            "to the large-star/small-star formulation"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def _connected_components_star(
    pairs: DataFrame, a: str, b: str, max_iter: int
) -> DataFrame:
    """Alternating large-star/small-star rounds to a star-graph fixpoint
    (each component collapses to edges pointing at its minimum node).

    Per round, both phases are the SAME bounded shape: a per-node MIN
    aggregate joined back onto the edge list — no neighbor lists are
    ever collected, so a hub of any degree costs one partial-aggregated
    min, not a collect_list. large-star hooks every bigger-than-u
    neighbor to min(Γ(u) ∪ {u}); small-star re-hooks the smaller ones;
    paths halve every round (O(log n) rounds at any diameter).
    Convergence = edge set unchanged (two exceptAll counts on the
    checkpointed frames — exact, and at fixpoint both are empty)."""
    e0 = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    # directed big -> small, deduped: the invariant both phases preserve
    edges = (
        e0.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e0.select("u")
        .union(e0.select(F.col("v").alias("u")))
        .distinct()
        .select(F.col("u").alias("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # ---- large-star: for every node u, m = min(neighbors ∪ {u});
        # every neighbor v > u re-hooks to m
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star: edges now run big -> small; for each u,
        # m = min of its smaller neighbors; every smaller neighbor and u
        # itself hook to m
        m2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(m2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m2.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        changed = (
            small.exceptAll(edges).count() + edges.exceptAll(small).count()
        )
        edges = small
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components(star): no fixpoint after {max_iter} "
            f"rounds ({changed} edge diffs); raise max_iter"
        )
    # star fixpoint: every non-center points at its component minimum;
    # centers have no outgoing edge and label themselves
    lbl = edges.groupBy("u").agg(F.min("v").alias("lbl"))
    return (
        nodes.join(lbl, nodes["node"] == lbl["u"], "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("lbl", "node").alias("cluster_id"),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str = "n_chars",
    max_iter: int = 50,
    algorithm: str = "propagate",
) -> DataFrame:
    """End-to-end dedup DECISIONS: pair graph → connected components →
    one keeper per cluster, everything else marked for drop. Pairwise
    output alone is not actionable (A~B, B~C must collapse to ONE kept
    document); this is the step that turns near-dup mining into a
    training-set filter.

    Keeper rule (deterministic): highest ``quality_col``, ties broken by
    smallest ``doc_id``. Scale shape: components via min-label propagation
    (see ``connected_components``), then ONE broadcast-sized join of the
    cluster labels to the quality column and a per-cluster argmax window —
    the window partitions on ``cluster_id`` (no global ordering), and only
    documents that appear in ≥1 pair enter the join (near-dup clusters are
    a small fraction of any real corpus, so the labeled side is sparse).
    """
    cc = connected_components(pairs, max_iter=max_iter, algorithm=algorithm)
    labeled = cc.join(df.select("doc_id", quality_col), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(quality_col), F.asc("doc_id")
    )
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            (F.col("__rn") == 1).alias("keep"),
        )
    )


_SWAR_MASK = 0x0001000100010001  # one 16-bit counting lane per mask bit
_SWAR_LANE_LIMIT = 65535  # max shingles/doc before a 16-bit lane overflows


def _simhash_agg(df: DataFrame, text_col: str, lanes: int = 1) -> DataFrame:
    """SWAR vertical-popcount aggregate of the SimHash family: one row per
    document with the shingle count ``__n`` and 16 packed lane sums
    ``w0..w15`` per 64-bit word of the signature (``lanes`` = 1 for
    64-bit SimHash, 2 for 128-bit, which adds ``x0..x15``).

    Word 0 is md5 hex digits 1-16 (parsed with TWO conv() calls — digits
    1-8 in bits 32-63, digits 9-16 in bits 0-31), word 1 digits 17-32
    with the same layout. Each word is AND-masked into four 16-bit
    counting lanes (``0x0001000100010001``) at each of 16 shift offsets,
    so ONE hash aggregate carries 16 packed BIGINT sums per word + a
    count instead of 64 per-bit sums — 17 agg buffer slots vs 64, which
    halves both per-row work and the Janino compile of the generated
    aggregate. Lane arithmetic is exact as long as every per-bit count
    fits 16 bits (enforced downstream via ``_swar_halves``); the packed
    sum may wrap Long.MAX via lane 48 — harmless: lanes are extracted
    with ``shiftrightunsigned``, and the session pins ANSI off so SUM
    wraps instead of erroring.
    """
    # cost=2 per word: 16 SWAR shift-mask sums per shingle row (round-14
    # width sweep at sf0.1: simhash64 median 1.11 s @width 3 → 0.84 s
    # @16, simhash128 1.48 s → 0.99 s).
    df = spread(df, cost=2 * lanes)
    ex = shingle_rows(df, text_col, alias="tok").select(
        "doc_id", F.md5("tok").alias("__h")
    )

    def word(d0: int) -> Column:
        return F.shiftleft(
            F.conv(F.substring("__h", d0, 8), 16, 10).cast("bigint"), 32
        ).bitwiseOR(
            F.conv(F.substring("__h", d0 + 8, 8), 16, 10).cast("bigint")
        )

    pres = "wx"[:lanes]
    hh = ex.select(
        "doc_id", *[word(1 + 16 * i).alias(f"__{p}") for i, p in enumerate(pres)]
    )
    # SQL-string form: ONE py4j parse per lane sum instead of ~6 Column
    # round-trips each — see _swar_bits_sql on why driver-side
    # construction cost matters here.
    sums = [
        F.expr(f"sum(shiftrightunsigned(__{p}, {k}) & {_SWAR_MASK}) AS {p}{k}")
        for p in pres
        for k in range(16)
    ]
    return hh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n"), *sums)


def _swar_bits_sql(j0: int, n_bits: int) -> str:
    """SQL string for a packed BIGINT of signature bits [j0, j0+n_bits)
    from the SWAR lane columns, LSB = bit j0 — a majority vote
    ``2*ones > __n`` per bit.

    Why a GENERATED SQL STRING and not pyspark Column algebra: this
    expression family is instantiated 10× per query (two 32-bit halves +
    eight 8-bit band keys), and building it from Column calls costs
    hundreds of Python↔JVM py4j round-trips — measured at ~1.8 s of
    driver-side DataFrame CONSTRUCTION per call (data-size-independent;
    Catalyst itself was only ~0.3 s), the dominant cost of the whole
    simhash family at sf0.1. One ``F.expr`` parse of a generated string
    is a single round-trip; the JVM-side SQL parser handles the rest.

    Why the bit terms are EXPANDED (one ``if()`` per bit with every
    position literal precomputed in Python) rather than a compact
    ``transform``/``aggregate`` lambda over a bit sequence: Spark's
    higher-order functions are CodegenFallback — interpreted per
    element — and the interpreted vote loop cost ~1.2 s of executor
    time at sf0.1 where the codegen'd expanded sum costs ~0.1 s. String
    expansion is free at construction; what matters is that the PARSED
    tree is plain comparisons/adds that whole-stage codegen compiles.

    Position math mirrors the hex layout: signature bit j lives at
    packed-word position q = (60 if j < 32 else 28) - 4*((j%32)//4) +
    (j%32)%4 — digit-major big-endian within each 32-bit conv() half,
    c0 half shifted up 32; lane word q%16, lane shift 16*(q//16).
    Values are identical to the per-digit formulation the oracle SQL
    uses: hex digit k of the md5 prefix contributes bits ``4*(7-k)+r``
    of each 32-bit half, and majority is the strict ``2*ones > n``
    (ties → 0), exactly ``sum(±1) > 0``.
    """
    terms = []
    for j in range(j0, j0 + n_bits):
        jj = j % 32
        q = (60 if j % 64 < 32 else 28) - 4 * (jj // 4) + jj % 4
        # lane prefix: bits 0-63 live in the w0..w15 sums (md5 hex
        # digits 1-16); bits 64-127 in the x0..x15 sums (digits 17-32,
        # the simhash128 second lane) with identical in-lane layout
        pre = "w" if j < 64 else "x"
        lane, shift, weight = q % 16, 16 * (q // 16), 2 ** (j - j0)
        terms.append(
            f"if(2 * (shiftrightunsigned({pre}{lane}, {shift}) & 65535)"
            f" > __n, {weight}L, 0L)"
        )
    return "(" + " + ".join(terms) + ")"


def _swar_halves(names: tuple[str, ...]) -> list[Column]:
    """Guarded 32-bit signature halves, one per name (half q = signature
    bits [32q, 32q+32)): ``assert_true`` keeps every 16-bit counting
    lane exact (> 65535 distinct shingles in ONE document means
    ~verbatim-unique text that no near-dup pass should fingerprint
    whole; chunk first). Routing the value through the if(... is null)
    keeps the guard from being pruned as an unused column."""
    return [
        F.expr(
            f"if(assert_true(__n <= {_SWAR_LANE_LIMIT}) is null, "
            f"cast(({_swar_bits_sql(32 * q, 32)}) as bigint), null) AS {n}"
        )
        for q, n in enumerate(names)
    ]


def _simhash_signatures(
    df: DataFrame, text_col: str, halves: tuple[str, ...]
) -> DataFrame:
    """SimHash per document over ``32·len(halves)`` bits: the bit string
    ``simhash_bits`` plus one packed 32-bit column per name in
    ``halves`` (half q = signature bits [32q, 32q+32), LSB-first)."""
    agg = _simhash_agg(df, text_col, len(halves) // 2)
    packed = agg.select("doc_id", *_swar_halves(halves))
    # Bit string rendered from the integer halves (LSB-first to match the
    # j-ascending definition) — 3 string ops per half instead of one
    # CASE branch per bit.
    bits = F.concat(
        *[
            F.reverse(F.lpad(F.conv(F.col(n).cast("string"), 10, 2), 32, "0"))
            for n in halves
        ]
    )
    return packed.select("doc_id", bits.alias("simhash_bits"), *halves)


def simhash_signatures(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document as a 64-char bit string plus the two
    packed halves ``sh_lo`` (bits 0-31) and ``sh_hi`` (bits 32-63).

    Features are distinct word 3-gram shingles (not unigram tokens: on a
    small shared vocabulary every document uses nearly the same token SET,
    which collapses unigram SimHash — shingles carry sequence information).
    Per shingle, md5 supplies 64 bits; bit j of the signature is the
    majority vote over shingles. Aggregation and bit-assembly mechanics:
    ``_simhash_agg`` / ``_swar_bits_sql``.
    """
    return _simhash_signatures(df, text_col, ("sh_lo", "sh_hi"))


# Above this estimated input size the simhash pair stage switches from
# in-row expression combos to the Arrow popcount kernel of ``mih_pairs``
# at per-band radius 0 (see _simhash_near_dup) — the interpreted
# O(occupancy^2) term crosses the fixed Arrow/worker overhead around this
# scale (estimates are COMPRESSED parquet bytes: ~0.6 MB at sf0.1 where
# the expression path wins 1.5 s vs 3.2 s, ~4 MB at sf1 where the kernel
# wins 5.8 s vs 13 s).
SIMHASH_KERNEL_BYTES = 2 << 20

# Above this estimated input size the pair stage switches again, from
# exact-band matching to per-band radius 1 (multi-index hashing proper):
# at radius 0 the h ≤ 7 contract needs 8 bands, and the 64-bit family's
# 8-bit bands have only 256 values, so bucket occupancy — and the
# occupancy² pair term — grows linearly with the corpus no matter how the
# work is kernelized (measured: 487 s at sf10/500k docs, ~2000 docs per
# bucket). Radius 1 halves the band count (4×16-bit bands + single-bit-
# flip variant keys: occupancy n/65536), identical final pair set.
# Crossover: radius 0 wins below ~50k docs (its emit volume is 8
# rows/doc vs radius 1's 68), radius 1 wins above.
SIMHASH_MIH_BYTES = 16 << 20

SIMHASH_MAX_HAMMING = 7  # the widest radius mih_bands can serve

# MIH planned-compare refusal (round 13). The sixth-decade measurement
# (SCALING.md: 30M fingerprints, in-process interleaved vs the 10M
# point) showed the band-collision term taking over: wall grew 10.7×
# on 3× data, tracking the PREDICTED per-bucket compare volume (~11.5×)
# almost exactly — with 16-bit bands the candidate term is Θ(n²/2^16)
# per band no matter how the work is kernelized or how s distributes
# it. That term is invisible to input bytes AND to the s-growth rule
# (which bounds rows per task, not compares per corpus), but it is
# computable EXACTLY before any pair task launches from the per-band
# bucket histogram — a BOUNDED collect (≤ groups·bands·2^16 rows ≈
# 2 MB, the band-value domain, never the corpus). Inputs past
# MIH_PROBE_MIN_DOCS pay that one column-pruned agg; plans above
# MIH_MAX_COMPARES refuse naming the remedies (exact-dedup identical
# fingerprints — one mass-dup value of c docs plans c²/2 compares from
# a single bucket — shard the corpus, or raise the budget after sizing
# the cluster). 1e12 compares ≈ 35 min on this box's 32 cores; the
# measured 30M corpus plans ~4.7e11 and passes.
MIH_PROBE_MIN_DOCS = 2_000_000
MIH_MAX_COMPARES = 1e12


def _mih_planned_compares(c, width: int, s: int) -> float:
    """EXACT planned popcount-compare count for one band's dense exact
    histogram ``c`` (length 2^width), mirroring the three kernel loops:
    within-bucket exact×exact triangles, exact×variant top-bit
    neighbors (variant emitted only when the flipped bit is SET in the
    origin, landing in the cleared bucket), and low-bit neighbor
    exact×exact compares evaluated once (v < v^bit)."""
    import numpy as np

    low = width - s
    idx = np.arange(c.shape[0], dtype=np.int64)
    total = float((c * np.maximum(c - 1.0, 0.0)).sum() / 2.0)
    for i in range(low, width):
        m = ((idx >> i) & 1) == 0
        total += float((c[idx[m]] * c[idx[m] + (1 << i)]).sum())
    for t in range(low):
        m = ((idx >> t) & 1) == 0
        total += float((c[idx[m]] * c[idx[m] + (1 << t)]).sum())
    return total


def _np_pop64(x):
    """Branch-free SWAR popcount over a uint64 ndarray."""
    import numpy as np

    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h = np.uint64(0x0101010101010101)
    x = x - ((x >> np.uint64(1)) & m1)
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    return (x * h) >> np.uint64(56)


def _band_combo_pairs(
    ex: DataFrame,
    sig_cols: tuple[str, ...],
    max_hamming: int,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """No-Python pair tail of the exact-match banded plans: ``ex`` holds
    one row per (doc, band) with ``doc_id``, ``keys``, ``band``,
    ``band_val`` and the signature columns ``sig_cols``. Each bucket's
    docs are collected, sorted, and paired in-row (a<b combos), verified
    by the full ``bit_count`` sum over ``sig_cols``; a pair colliding in
    several bands is deduped by the final groupBy (its hamming is the
    same in every collision)."""
    grp = (
        ex.groupBy(*keys, "band", "band_val")
        .agg(
            F.array_sort(F.collect_list(F.struct("doc_id", *sig_cols))).alias(
                "ds"
            )
        )
        .where(F.size("ds") >= 2)
    )
    ham = " + ".join(f"bit_count(x.{c} ^ y.{c})" for c in sig_cols)
    combos = _inrow_pairs(
        "ds",
        "x.doc_id AS doc_a, y.doc_id AS doc_b, "
        f"cast({ham} as bigint) AS hamming",
    )
    return (
        grp.select(*keys, combos)
        .select(*keys, "p.doc_a", "p.doc_b", "p.hamming")
        .where(F.col("hamming") <= max_hamming)
        .groupBy(*keys, "doc_a", "doc_b")
        .agg(F.max("hamming").alias("hamming"))
    )


def mih_bands(max_hamming: int, radius: int = 1, lanes: int = 2) -> int:
    """Band count of every banded pair plan: the FEWEST (widest) bands
    b ∈ {2, 4, 8} with b ≥ ``lanes`` (so a band nests in one 32-bit
    lane) and max_hamming // b ≤ ``radius``. Pigeonhole over b bands: a
    pair at Hamming ≤ h has some band at distance ≤ floor(h/b); radius 0
    matches identical bands only, radius 1 also exact×single-flip
    variants. Subject to feasibility, WIDER bands are strictly better at
    every corpus size: occupancy is n/2^(32·lanes/b) (each halving of b
    squares the bucket count) while radius-1 keys per doc
    b·(1+32·lanes/b) barely move. So the band count is RADIUS-bound, not
    corpus-bound; the corpus-size decision is the radius itself
    (SIMHASH_KERNEL_BYTES / SIMHASH_MIH_BYTES upstream). For 64-bit
    signatures:

    - radius 1: h ≤ 3 → 2×32-bit bands, occupancy n/2^32 (a
      TRILLION-doc corpus averages < 1 doc per bucket); h 4..7 →
      4×16-bit, occupancy n/65536. Growing past ~10^8 docs at h ≤ 7
      means either trading the radius down to ≤ 3 or paying r = 2
      variant enumeration (C(w,2) keys/doc) — documented in
      SCALING.md, not silently attempted.
    - radius 0: h ≤ 1 → 2 bands, h ≤ 3 → 4, h ≤ 7 → 8×8-bit.

    h > 7 raises at every radius: 8 bands at radius 1 would serve h ≤ 15,
    but the small and mid-size arms run at radius 0, where no b ≤ 8
    serves h > 7 — and one operator keeps one contract across its arms.
    """
    if max_hamming > 7:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the banded plans' radius 7"
        )
    return next(
        b for b in (2, 4, 8) if b >= lanes and max_hamming // b <= radius
    )


def _swar_lanes(agg: DataFrame, names: tuple[str, ...]) -> DataFrame:
    """``mih_pairs`` input from a SWAR aggregate: doc_id plus one guarded
    32-bit signature lane per name (lane q = signature bits [32q, 32q+32)).

    The repartition is a deliberate exchange barrier: without it
    CollapseProject inlines the full SWAR majority-vote expression into
    every band-key expression ``mih_pairs`` emits, and Catalyst planning
    alone costs seconds (data-size-independent; same pathology as
    deriving band keys from sh_lo/sh_hi in the banded plan, see
    simhash_near_dup_pairs)."""
    return agg.select("doc_id", *_swar_halves(names)).repartition("doc_id")


def mih_pairs(
    sigs: DataFrame,
    n_bands: int,
    max_hamming: int,
    n_docs: int | None = None,
    max_compares: float | None = None,
    keys: tuple[str, ...] = (),
    name: str = "simhash",
    sig: str = "signatures",
) -> DataFrame:
    """Multi-index-hashing pair miner (Norouzi/Punjani/Fleet, CVPR'12),
    the corpus-scale pair stage of the 64-bit and 128-bit SimHash
    families and of ``multimodal.media_near_dup``.

    Input: ``sigs`` holds ``doc_id``, the group ``keys`` (pairs never
    cross a key group) and, in every other column, the signature as
    32-bit lanes — lane q is a non-negative BIGINT holding signature
    bits [32q, 32q+32). Output: ``[keys…,] doc_a, doc_b, hamming`` with
    doc_a < doc_b — exactly {a<b : hamming ≤ max_hamming} per group,
    the same pair set as every banded plan (asserted in tests).

    Geometry: the signature splits into ``n_bands`` disjoint w-bit
    bands (w = 32·lanes/n_bands ∈ {8, 16, 32}, so band k nests in one
    lane) with per-band radius r = max_hamming // n_bands ≤ 1
    (``mih_bands`` picks n_bands). At r = 0 no variant keys are
    emitted and the kernel only pairs identical band values.
    Pigeonhole: if every band differed in ≥ r+1 bits the distance would
    be ≥ b(r+1) > max_hamming, so every qualifying pair agrees with some
    band to within r bits. Verification is always the full popcount
    over all lanes, so over-generation is impossible.

    Transport: the Arrow task key is (keys, band, __sub) where __sub is
    the TOP s bits of the band value, so a task owns a contiguous
    2^(w-s)-value slice of one band's bucket space. Band-distance-1
    pairs whose differing bit is one of the LOW w-s bits live in the
    same task — the kernel compares bucket v with bucket v^bit
    in-memory, once (v < v^bit), no variant row shipped. Only the s
    top-bit flips cross tasks, and by the SET-BIT rule a flip emits a
    variant key only when the flipped bit is set in the origin (a
    value decrease): a band-distance-1 pair differs in exactly that
    bit, so exactly one side casts into the other's bucket — full
    recall, one discovery orientation, s/2 expected variants per
    doc-band. Transport, not compute, sets this design: an Arrow kernel
    shipping all 1+w keys per doc-band regressed media at sf30 (339.7 s
    vs 231.9 s). The key is ONE bigint ``bvk`` = band_val·2 + kind, so
    a single sort puts each bucket's exacts before its variants.

    s sizing: start at the s = 4 floor (16 tasks/band; per-group
    applyInPandas overhead dominated near-empty slices, ~1.7 s on 6k
    rows) and grow only while a task would exceed ~500k rows — fewer
    sub bits ship fewer variant rows while the extra in-task neighbor
    compares stay NumPy-cheap (s = 4 measured ~10% faster than s = 8 at
    1.8M assets). Any s in [1, w-1] is value-exact.

    PLANNED-COMPARE refusal (round 13, MIH_MAX_COMPARES): past
    ``MIH_PROBE_MIN_DOCS`` one column-pruned (keys, band, value)
    histogram prices the kernel before any pair task launches and
    refuses above ``max_compares``. At r = 1 and w ≤ 16 the dense
    histogram (bounded collect ≤ groups·b·2^w rows) gives the EXACT
    kernel term (``_mih_planned_compares``). Otherwise the within-bucket
    triangle term Σ c(c−1)/2 is summed server-side (one-row collect):
    exact at r = 0, and at r = 1, w = 32 (a dense 2^32 histogram is
    unbuildable) a certified LOWER bound that omits the distance-1
    neighbor products, so it refuses only plans that certainly exceed
    the budget. ``name`` and ``sig`` word the refusal
    for the calling operator.
    """
    import numpy as np
    import pandas as pd

    lanes = [c for c in sigs.columns if c != "doc_id" and c not in keys]
    b = n_bands
    w = 32 * len(lanes) // b
    r = max_hamming // b
    if w not in (8, 16, 32) or b * w != 32 * len(lanes) or r > 1:
        raise ValueError(
            "MIH needs 8-, 16- or 32-bit bands and max_hamming // n_bands"
            f" <= 1 (got {len(lanes)} lanes, n_bands={b}, max_hamming="
            f"{max_hamming})"
        )
    mask = (1 << w) - 1
    s = min(4, w - 1)
    if n_docs:
        while s < min(w - 1, 16) and n_docs * (2 + s) > 1_000_000 << s:
            s += 1
    low = w - s

    def band(k: int) -> str:
        return (
            f"(shiftrightunsigned({lanes[k * w // 32]}, {k * w % 32})"
            f" & {mask})"
        )

    budget = MIH_MAX_COMPARES if max_compares is None else max_compares
    if n_docs and n_docs >= MIH_PROBE_MIN_DOCS:
        hist = (
            sigs.select(
                *keys,
                F.explode(
                    F.expr(
                        "array("
                        + ",".join(
                            f"struct({k} AS band, {band(k)} AS v)"
                            for k in range(b)
                        )
                        + ")"
                    )
                ).alias("bk"),
            )
            .groupBy(
                *keys,
                F.col("bk.band").alias("band"),
                F.col("bk.v").alias("v"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
        if r and w <= 16:
            per: dict[tuple, list] = {}
            for row in hist.collect():
                per.setdefault(tuple(row[:-2]), []).append(
                    (int(row["v"]), float(row["c"]))
                )
            planned = 0.0
            for vc in per.values():
                c = np.zeros(1 << w, dtype=np.float64)
                c[[v for v, _ in vc]] = [n for _, n in vc]
                planned += _mih_planned_compares(c, w, s)
        else:
            c = F.col("c").cast("double")
            planned = float(
                hist.where(F.col("c") >= 2)
                .agg(F.sum(c * (c - 1.0) / 2.0))
                .collect()[0][0]
                or 0.0
            )
        if planned > budget:
            raise ValueError(
                f"{name} MIH planned compare volume {planned:.2e} exceeds "
                f"max_compares={budget:.0e} at the {b}×{w}-bit band "
                f"geometry: band-collision work is Θ(n²/2^{w}) per band, "
                f"and this corpus's bucket histogram concentrates the "
                f"planned MIH compare volume (mass-duplicate {sig} are the "
                f"usual cause — ONE value shared by c docs plans c²/2 "
                f"compares from a single bucket at any band width). "
                f"Exact-dedup identical {sig} first, shard the corpus, or "
                f"raise max_compares after sizing the cluster."
            )
    structs = []
    for k in range(b):
        bv = band(k)
        structs.append(
            f"struct({k} AS band, cast({bv} * 2 as bigint) AS bvk)"
        )
        if r >= 1:
            structs.extend(
                f"if((shiftrightunsigned({bv}, {i}) & 1) = 1,"
                f" struct({k} AS band,"
                f" cast(({bv} ^ {1 << i}) * 2 + 1 as bigint) AS bvk),"
                " null)"
                for i in range(low, w)
            )
    ex = sigs.select(
        "doc_id",
        *keys,
        *lanes,
        F.explode(
            F.expr(
                "filter(array(" + ",".join(structs) + "), x -> x is not null)"
            )
        ).alias("bk"),
    ).select("doc_id", *keys, *lanes, "bk.band", "bk.bvk")
    in_task_bits = low if r >= 1 else 0

    def _mih_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        bvk = pdf["bvk"].to_numpy()
        order = np.argsort(bvk, kind="stable")
        bvk = bvk[order]
        ids = pdf["doc_id"].to_numpy()[order]
        lv = [pdf[c].to_numpy()[order].astype(np.uint64) for c in lanes]
        # lane pairs packed into 64-bit words: one popcount per 64 bits
        words = [
            lv[q] | (lv[q + 1] << np.uint64(32)) if q + 1 < len(lv) else lv[q]
            for q in range(0, len(lv), 2)
        ]
        uvals, starts = np.unique(bvk >> 1, return_index=True)
        bounds = np.append(starts, len(bvk))
        # the packed key sorts exacts (kind bit 0) before variants of
        # the same bucket, so the exact segment is a prefix
        n_exact = np.searchsorted(bvk, uvals * 2 + 1, side="left") - starts
        idx = {int(v): i for i, v in enumerate(uvals)}
        found = [np.empty((3, 0), dtype=np.int64)]

        def compare(r0, r1, c0, c1, m=None):
            ham = _np_pop64(words[0][r0:r1, None] ^ words[0][None, c0:c1])
            for x in words[1:]:
                ham = ham + _np_pop64(x[r0:r1, None] ^ x[None, c0:c1])
            ham = ham.astype(np.int64)
            m = ham <= max_hamming if m is None else m & (ham <= max_hamming)
            rr, cc = np.nonzero(m)
            if len(rr):
                a, bb = ids[r0 + rr], ids[c0 + cc]
                lo, hi = np.minimum(a, bb), np.maximum(a, bb)
                found.append(np.stack([lo, hi, ham[rr, cc]]))

        for i in range(len(uvals)):
            s0, s1 = bounds[i], bounds[i + 1]
            n_e = int(n_exact[i])
            if n_e == 0:
                continue
            # (1) bucket-local: exact×exact triangle + exact×variant;
            # 4096-row chips bound the XOR matrix even on a mass-dup bucket
            if s1 - s0 >= 2:
                cols = np.arange(s1 - s0)[None, :]
                for c0 in range(0, n_e, 4096):
                    c1 = min(c0 + 4096, n_e)
                    rows = np.arange(c0, c1)[:, None]
                    tri = ((cols < n_e) & (rows < cols)) | (cols >= n_e)
                    compare(s0 + c0, s0 + c1, s0, s1, tri)
            # (2) low-bit neighbor buckets, each unordered pair once
            v = int(uvals[i])
            for t in range(in_task_bits):
                u = v ^ (1 << t)
                j = idx.get(u) if u > v else None
                if j is None or n_exact[j] == 0:
                    continue
                for c0 in range(0, n_e, 4096):
                    c1 = min(c0 + 4096, n_e)
                    t0 = bounds[j]
                    compare(s0 + c0, s0 + c1, t0, t0 + n_exact[j])
        a, bb, h = np.concatenate(found, axis=1)
        return pd.DataFrame(
            {
                **{k: pdf[k].iloc[0] for k in keys},
                "doc_a": a,
                "doc_b": bb,
                "hamming": h,
            }
        )

    schema = ", ".join(
        [f"{k} {sigs.schema[k].dataType.simpleString()}" for k in keys]
        + ["doc_a long", "doc_b long", "hamming long"]
    )
    return (
        ex.withColumn("__sub", F.expr(f"shiftrightunsigned(bvk, {low + 1})"))
        .groupBy(*keys, "band", "__sub")
        .applyInPandas(_mih_kernel, schema)
        .groupBy(*keys, "doc_a", "doc_b")
        .agg(F.max("hamming").alias("hamming"))
    )


def _simhash_near_dup(
    df: DataFrame,
    text_col: str,
    halves: tuple[str, ...],
    max_hamming: int,
    max_compares: float | None = None,
    name: str = "simhash",
) -> DataFrame:
    """Pair stage of both SimHash widths; ``halves`` names the 32-bit
    signature lanes (two for 64-bit, four for 128-bit). Every plan has
    pigeonhole-guaranteed recall and full popcount verification, so the
    size gate is a cost decision only (value identity test-asserted):

    - < SIMHASH_KERNEL_BYTES: exact-band in-row combos over
      ``mih_bands(h, 0, lanes)`` bands, no Python stage (~1.3 s of
      Arrow/worker overhead saved at sf0.1).
    - < SIMHASH_MIH_BYTES: the same bands through ``mih_pairs`` at
      radius 0. The combos are CodegenFallback-interpreted and
      O(occupancy²) per bucket (16.3 s at sf1 vs ~6 s for a kernel).
    - above: ``mih_pairs`` at radius 1 with its planned-compare refusal;
      the count() job sizes its Arrow transport granularity.
    """
    lanes = len(halves)
    b = mih_bands(max_hamming, 0, lanes)
    agg = _simhash_agg(df, text_col, lanes // 2)
    size = _estimated_bytes(df)
    if size >= SIMHASH_MIH_BYTES:
        return mih_pairs(
            _swar_lanes(agg, halves),
            mih_bands(max_hamming, 1, lanes),
            max_hamming,
            n_docs=df.count(),
            max_compares=max_compares,
            name=name,
        )
    if size >= SIMHASH_KERNEL_BYTES:
        return mih_pairs(_swar_lanes(agg, halves), b, max_hamming)
    w = 32 * lanes // b
    bands = F.expr(
        "array("
        + ",".join(
            f"struct({k} AS band, ({_swar_bits_sql(w * k, w)}) AS band_val)"
            for k in range(b)
        )
        + ")"
    )
    ex = agg.select(
        "doc_id",
        *_swar_halves(halves),
        F.explode(bands).alias("bk"),
    ).select("doc_id", *halves, "bk.band", "bk.band_val")
    return _band_combo_pairs(ex, halves, max_hamming)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """SimHash near-dup pairs over the WHOLE corpus: Hamming distance ≤
    ``max_hamming`` (≤ 7, else ValueError) between 64-bit signatures,
    blocked on signature bands with guaranteed recall
    (Manku/Jain/Sarma-style, WWW'07).

    Band math (pigeonhole): a pair at Hamming distance h < b has some
    one of b disjoint bands IDENTICAL, so every qualifying pair collides
    in ≥1 band bucket and the blocked result EQUALS the all-pairs
    definition the (brute-force, sf0.01) oracle SQL computes. On the
    test corpus the planted near-dup pairs have Hamming 1–7 and the
    closest non-planted pair is at 16. b comes from the radius
    (``mih_bands``): 8×8-bit bands at the default h ≤ 7, 4×16-bit at
    h ≤ 3 (occupancy ~n/65536 instead of ~n/256); plans by input size:
    ``_simhash_near_dup``. The small plan is one signature pass, a
    b-way band explode and one groupBy on (band, band_val) with in-row
    a<b pairs — no self-join. Mass-duplication clusters should go
    through ``exact_dedup_groups`` first.

    The band keys are assembled straight from the SWAR lane sums
    (``_swar_bits_sql(w·k, w)``) in the SAME projection that assembles
    sh_lo/sh_hi — deriving them from sh_lo/sh_hi instead makes
    CollapseProject inline 4+ copies of each 32-bit assembly expression
    into the band array, and the resulting Catalyst planning time (~1.4s
    per call, data-size-independent) dominated the whole operator at
    sf0.1. Band k of the signature equals bits [w·k, w·k+w) in both
    formulations, so blocked-pair results are unchanged.
    """
    return _simhash_near_dup(df, text_col, ("sh_lo", "sh_hi"), max_hamming)


def simhash128_signatures(df: DataFrame, text_col: str = "text") -> DataFrame:
    """128-bit SimHash per document (round 13): the tight-radius
    fingerprint that makes WIDE MIH bands feasible. Rationale from the
    sixth-decade measurement (SCALING.md round-13): 64-bit codes at
    h ≤ 7 force 4×16-bit bands, whose band-collision compare term is
    Θ(n²/2^16) per band and dominates wall past ~10M docs. 128-bit
    codes at the same absolute radius give 4×32-bit bands — the
    collision term drops 2^16× (~560× at the measured 30M corpus) and
    stays sub-dominant until ~4e10 docs. Output: the 128-char bit
    string plus four packed 32-bit halves (sh_0 = bits 0-31 ...
    sh_3 = bits 96-127, LSB-first like the 64-bit family)."""
    return _simhash_signatures(df, text_col, ("sh_0", "sh_1", "sh_2", "sh_3"))


def simhash128_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 7,
    max_compares: float | None = None,
) -> DataFrame:
    """128-bit SimHash near-dup pairs, Hamming ≤ ``max_hamming`` (≤ 7,
    else ValueError) over the whole corpus — the corpus-scale answer to
    the sixth-decade band-collision finding (see
    ``simhash128_signatures``). The plans are the 64-bit family's
    (``_simhash_near_dup``) over four lanes: 8×16-bit exact bands
    (4×32-bit at h ≤ 3), and 4×32-bit radius-1 bands at corpus scale,
    whose average collision term Θ(n²/2^32) per band stays under the
    1e12 budget until ~4e10 docs. Average occupancy says nothing about
    CONCENTRATION (c identical signatures plan c²/2 compares in one
    bucket), so that arm still probes and refuses above
    ``max_compares`` (default ``MIH_MAX_COMPARES``).
    """
    return _simhash_near_dup(
        df,
        text_col,
        ("sh_0", "sh_1", "sh_2", "sh_3"),
        max_hamming,
        max_compares=max_compares,
        name="simhash128",
    )


def _island_spans(ps: str, k: int) -> Column:
    """Merge a SORTED per-document duplicated-position array ``ps`` into
    maximal strict-overlap islands, in-row — array<struct<span_start,
    span_end, n_grams>> (all bigint), ascending and disjoint by
    construction.

    Round 15 (guide §1.2 per-task work / §2.4 remove passes): the
    gaps-and-islands merge previously ran as TWO running-frame windows
    plus a (doc_id, island) aggregate under the doc_id exchange — a
    per-partition sort and three operator passes over the position
    stream. Because positions are per-document and document-length-
    bounded (the same bound the rebuild's collect_list already relies
    on), ONE sorted per-doc list + this O(n + islands) expression
    computes the identical spans: with ``ps`` ascending and constant
    gram length k, the running max(pos + k) over preceding rows is just
    ps[i-1] + k, so an island breaks exactly where ps[i] >= ps[i-1] + k.
    ``ps`` must be non-empty (guaranteed: it comes from a groupBy over
    the hit stream, so every doc_id present has >= 1 position).

    The array(bs) wrapper binds the break-index list to ONE lambda
    variable so it is evaluated once per row (the module's two-level
    transform convention)."""
    bs = (
        f"filter(sequence(0, size({ps}) - 1), "
        f"i -> i = 0 OR {ps}[i] >= {ps}[i-1] + {k})"
    )
    return F.expr(
        f"flatten(transform(array({bs}), bs -> "
        f"transform(bs, (b, t) -> struct("
        f"cast({ps}[b] as bigint) AS span_start, "
        f"cast({ps}[if(t + 1 < size(bs), bs[t + 1], size({ps})) - 1] "
        f"+ {k} as bigint) AS span_end, "
        f"cast(if(t + 1 < size(bs), bs[t + 1], size({ps})) - b "
        f"as bigint) AS n_grams))))"
    )


def _cut_spans(base: DataFrame, sp: DataFrame) -> DataFrame:
    """Shared rebuild of the substring-dedup appliers: cut every token
    covered by a span out of ``base``'s token arrays. ``sp`` is
    (doc_id, __ss) with __ss SORTED and DISJOINT (the _island_spans
    contract).

    Round 15 (guide §1.2): the kept tokens are the concatenation of the
    gap segments BETWEEN the spans, so one slice() per gap rebuilds the
    document in O(tokens + spans) — the previous per-token
    covered-by-any-span filter lambda was O(tokens × spans) per
    document."""
    empty = (
        "cast(array() as array<struct<"
        "span_start:bigint,span_end:bigint,n_grams:bigint>>)"
    )
    gap_start = "if(g = 0, 0L, ss[g - 1].span_end)"
    gap_end = (
        "if(g < size(ss), ss[g].span_start, cast(size(__toks) as bigint))"
    )
    kept = F.expr(
        f"flatten(transform(array(coalesce(__ss, {empty})), ss -> "
        f"flatten(transform(sequence(0, size(ss)), g -> "
        f"slice(__toks, cast({gap_start} as int) + 1, "
        f"cast({gap_end} - {gap_start} as int))))))"
    )
    return (
        base.join(sp, "doc_id", "left")
        .select("doc_id", "__toks", kept.alias("__kept"))
        .select(
            "doc_id",
            F.array_join("__kept", " ").alias("clean_text"),
            (F.size("__toks") - F.size("__kept"))
            .cast("bigint")
            .alias("n_tokens_removed"),
        )
    )


def substring_dedup_spans(
    df: DataFrame, text_col: str = "text", min_tokens: int = 8
) -> DataFrame:
    """Duplicate-substring span mining — the distributed form of
    exact-substring training-data dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499,
    which builds a corpus-wide suffix array; no reference-repo
    counterpart — capability extension per SURVEY.md §2.11).

    A position p of a document is DUPLICATED if the ``min_tokens``-token
    shingle starting at p occurs at least twice in the corpus (other
    document or elsewhere in the same one). Output: one row per maximal
    run of overlapping duplicated shingles — (doc_id, span_start,
    span_end) in token offsets, [start, end), plus span length and the
    number of duplicated shingles merged into the run. Downstream
    curation cuts or drops these spans.

    SCALE DESIGN — a suffix array across a cluster is not buildable;
    shingle-position mining gives the same "every duplicated run of ≥
    min_tokens tokens is found" guarantee (a duplicated run of length L
    contains L-min_tokens+1 duplicated shingles, and any shared
    min_tokens-gram IS a duplicated run) with only: one position
    explode (shuffle-free), a PARTIAL-AGG duplicated-digest rollup
    (``groupBy(gh).count() ≥ 2`` — map-side combine collapses a
    mass-duplicated shingle to one row per map task before the
    exchange) LEFT-SEMI-joined back onto the position stream
    (shuffle-hash on the fixed-width 128-bit hash-pair key, so AQE skew-split divides
    a hot probe partition across tasks), and ONE key-partitioned
    exchange on doc_id under which both the gaps-and-islands run merge
    (two windows, same partitioning) and the final per-run aggregate
    execute — the aggregate's (doc_id, island) grouping is co-located
    by the doc_id exchange, so it adds no shuffle. Round 14 de-skew:
    the previous corpus-frequency COUNT window partitioned by the raw
    position stream serialized ALL occurrences of a 10⁸-copy
    boilerplate shingle — precisely the data this operator exists to
    find — into ONE WindowExec task (windows are never
    AQE-skew-splittable); the rollup+semi-join keeps every task bounded
    at the cost of a second gh-only-pruned pass over the explode. The
    frequency filter keeps only duplicated positions, so the doc_id
    exchange moves a small fraction of the corpus. Spans merge on
    strict overlap (pos < previous span end): two adjacent but
    non-overlapping duplicated shingles are separate runs — their
    concatenation was never itself observed twice.

    Round 15 (guide §1.2/§2.4): the gaps-and-islands merge moved from
    two running-frame windows + a (doc_id, island) aggregate to one
    per-doc sorted position list + the in-row ``_island_spans``
    expression — the doc_id exchange now feeds a single aggregate and
    the per-partition window sort disappears (plan diff in
    plans/r15/substring_dedup_{before,after}.txt).
    """
    return (
        _dup_span_lists(df, text_col, min_tokens)
        .select("doc_id", F.explode("__ss").alias("s"))
        .select(
            "doc_id",
            "s.span_start",
            "s.span_end",
            (F.col("s.span_end") - F.col("s.span_start")).alias(
                "span_tokens"
            ),
            "s.n_grams",
        )
    )


def _gram_positions(toks: DataFrame, k: int) -> DataFrame:
    """Position stream of the substring-dedup family: (doc_id, pos, g1,
    g2), one row per ``k``-token gram of ``toks``' ``__toks`` array, keyed
    by the 128-bit xxhash pair of the gram string (round 14: was md5-hex
    — ~0.19 s/pass dearer at sf0.1 and 3x the exchange-key width; see
    content_key128). The two-level transform binds the gram string to ONE
    lambda variable so both hash lanes read a single evaluation of the
    concat. Documents shorter than ``k`` tokens (or NULL) have no grams."""
    grams = F.transform(
        F.expr(word_ngrams(k)),
        lambda g, i: F.struct(
            i.alias("pos"),
            *(
                c.alias(n)
                for c, n in zip(content_key128(g), ("g1", "g2"))
            ),
        ),
    )
    safe = F.when(F.size("__toks") >= k, grams).otherwise(
        F.array().cast("array<struct<pos:int,g1:bigint,g2:bigint>>")
    )
    return toks.select("doc_id", F.explode(safe).alias("g")).select(
        "doc_id", "g.pos", "g.g1", "g.g2"
    )


def _span_lists(hits: DataFrame, k: int) -> DataFrame:
    """(doc_id, __ss): per document of the (doc_id, pos) ``hits``, the
    sorted, disjoint strict-overlap islands of its ``k``-token grams
    (``_island_spans`` over one sorted per-doc position list)."""
    return (
        hits.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("__ps"))
        .select("doc_id", _island_spans("__ps", k).alias("__ss"))
    )


def _dup_span_lists(
    df: DataFrame, text_col: str, min_tokens: int
) -> DataFrame:
    """Shared mining core of the substring-dedup family: per document,
    the SORTED, DISJOINT list of maximal duplicated-run spans —
    (doc_id, __ss: array<struct<span_start, span_end, n_grams>>), one
    row per document that has at least one duplicated position. See
    ``substring_dedup_spans`` for the scale design of the position
    explode + duplicated-digest rollup + semi-join; ``_island_spans``
    for the in-row run merge."""
    pos = _gram_positions(
        spread(df).select("doc_id", tokens(F.col(text_col)).alias("__toks")),
        min_tokens,
    )
    dup = (
        pos.groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= 2)
        .select("g1", "g2")
    )
    hits = pos.join(
        dup.hint("shuffle_hash"), ["g1", "g2"], "left_semi"
    ).select("doc_id", "pos")
    return _span_lists(hits, min_tokens)


def substring_dedup_apply(
    df: DataFrame, text_col: str = "text", min_tokens: int = 8
) -> DataFrame:
    """Apply duplicate-substring dedup: cut every token covered by a
    ``substring_dedup_spans`` run out of the text, returning (doc_id,
    clean_text, n_tokens_removed) — the curation half of exact-substring
    dedup (the mining half documents the spans; this one edits the
    corpus).

    Policy: ALL occurrences of a duplicated run are removed (the
    conservative variant — keeping one canonical copy requires a global
    per-cluster election, which is a separate keeper-selection pass à la
    ``dedup_keep_best``). Deterministic, so the DuckDB oracle replays it
    bit-for-bit.

    Scale shape: the span-list table (small — documents with duplicated
    positions only) hash-joins back onto the corpus on doc_id; the token
    cut slices the gap segments between the sorted spans (``_cut_spans``,
    round 15 — O(n_tokens + n_spans) per row vs the previous per-token
    covered-by-any-span filter's O(n_tokens × n_spans)), with no
    additional shuffle. A left join keeps span-free documents untouched.
    Round 15: the span lists come straight from ``_dup_span_lists`` —
    the explode-to-rows + re-collect round trip the old
    ``substring_dedup_spans`` + groupBy composition paid is gone.
    """
    sp = _dup_span_lists(df, text_col, min_tokens)
    base = df.select("doc_id", tokens(F.col(text_col)).alias("__toks"))
    return _cut_spans(base, sp)


def substring_dedup_keep_first(
    df: DataFrame, text_col: str = "text", min_tokens: int = 8
) -> DataFrame:
    """Keep-one exact-substring dedup: like ``substring_dedup_apply`` but
    each duplicated ``min_tokens``-token shingle KEEPS its globally first
    occurrence (smallest (doc_id, position)) and only the redundant
    occurrences are cut — the all-but-one removal policy of
    exact-substring training-data dedup, losing no content entirely.

    The keeper election packs (doc_id, pos) into one orderable BIGINT
    (``_first_key``, shared with the line-dedup family) and takes MIN per
    shingle digest in the same PARTIAL-AGG rollup that carries the
    corpus-frequency count — deterministic, retry-stable, and map-side
    combinable, so a mass-duplicated shingle collapses to one (digest,
    count, min) row per map task before the exchange. The rollup joins back onto the position stream
    (shuffle-hash on the fixed-width hash-pair key, AQE-skew-splittable); positions that
    are not the elected minimum of a ≥2×-occurring shingle are
    redundant. Round 14 de-skew: the previous COUNT + ROW_NUMBER
    windows over the raw position stream serialized every occurrence of
    a boilerplate shingle into one WindowExec task (windows are never
    AQE-skew-splittable). Redundant positions merge into strict-overlap
    islands and are cut exactly as in ``substring_dedup_apply``. A
    token inside a KEPT occurrence survives unless some other redundant
    occurrence also covers it.
    """
    base = df.select("doc_id", tokens(F.col(text_col)).alias("__toks"))
    # cost=2: the k-token gram build + hash per position row is the
    # heaviest per-byte projection in the substring family (round-14
    # width sweep: keep_first median 1.05 s @128 KB/task → 0.84 s at the
    # 2× width at sf0.1).
    pos = _gram_positions(spread(base, cost=2), min_tokens)
    pk = _first_key("substring_dedup_keep_first", "token positions")
    stats = (
        pos.groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).alias("__c"), F.min(pk).alias("__mk"))
        .where(F.col("__c") >= 2)
    )
    redundant = (
        pos.join(stats.hint("shuffle_hash"), ["g1", "g2"])
        .where(pk != F.col("__mk"))
        .select("doc_id", "pos")
    )
    # Round 15: same in-row islands merge + gap-slice rebuild as the
    # spans/apply pair (guide §1.2/§2.4 — the two running-frame windows,
    # their per-partition sort, and the (doc_id, island) aggregate are
    # replaced by one per-doc sorted list + _island_spans; the rebuild
    # goes O(tokens × spans) → O(tokens + spans) via _cut_spans).
    return _cut_spans(base, _span_lists(redundant, min_tokens))


# Positions-per-document bound for packing (doc_id, pos) into one orderable
# BIGINT key: supports documents up to 1e9 lines and doc_ids up to ~9.2e9.
LINE_STRIDE = 1_000_000_000


def _first_key(name: str, unit: str = "lines") -> Column:
    """The keep-first election key: (doc_id, pos) packed into one
    orderable BIGINT, doc_id * LINE_STRIDE + pos, so lexicographic
    (doc_id, pos) order IS key order and MIN elects the first occurrence.
    The packing is only injective while 0 <= pos < LINE_STRIDE and
    0 <= doc_id <= MAX_LONG div LINE_STRIDE (the multiply wraps SILENTLY
    under the session's non-ANSI mode); outside that envelope it would
    mis-elect keep-first winners, so all three bounds are enforced at
    runtime by a refusal that names the operator ``name`` and counts its
    positions in ``unit`` (same assert_true-routing trick as simhash's
    _swar_halves — the if() keeps the guard from being pruned as
    unused)."""
    max_doc = (1 << 63) // LINE_STRIDE - 1
    return F.expr(
        f"if(assert_true(doc_id >= 0 AND doc_id <= {max_doc} "
        f"AND pos < {LINE_STRIDE}, "
        f"'{name} key packing needs 0 <= doc_id <= {max_doc} "
        f"and < {LINE_STRIDE} {unit} per document; chunk or re-key "
        f"first') is null, "
        f"cast(doc_id * {LINE_STRIDE}L + pos as bigint), null)"
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    delim: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide duplicate-line removal, keep-first — the C4/CCNet line
    dedup policy (Raffel et al. 2020 dedup "three-sentence spans"; Dolma /
    CCNet apply it at line granularity): every distinct line keeps only its
    globally first occurrence (smallest (doc_id, position)); later
    occurrences — boilerplate headers, nav bars, cookie banners — are cut
    from their documents. Lines shorter than ``min_chars`` (e.g. blank
    separator lines) carry structure, not content, and are always kept.

    Returns (doc_id, clean_text, n_lines_removed) for EVERY input document
    (a fully-deduplicated document comes back with ``clean_text = ''``).

    ``delim`` must be a plain literal with no regex metacharacters (it is
    passed to ``split``'s pattern position).

    This is ``incremental_line_dedup`` with no history: one body,
    ``_line_dedup``, whose scale shape is documented there. No driver
    state.
    """
    return _line_dedup(df, None, text_col, delim, min_chars, "line_dedup")


def incremental_line_dedup(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    delim: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Incremental C4/CCNet line dedup: strip from each NEW document every
    line already present in the ingested corpus, plus batch-internal
    duplicates (keep-first within the batch, exactly ``line_dedup``) —
    completing the incremental family (``incremental_dedup`` for exact
    docs, ``incremental_near_dup`` for near-dups, this for lines).
    Returns (doc_id, clean_text, n_lines_removed) for every new document.

    The history side collapses to DISTINCT line digests (xxhash64 pair —
    16 bytes per distinct line; in a real deployment this digest index is
    a maintained table appended once per batch, so the daily cost reads
    the NEW batch only, exactly like ``incremental_dedup``'s digest set).
    History membership is ONE digest equi-join on the SAME hash-pair key
    as the batch election, so the two joins share the probe-side
    partitioning — uniform fixed-width keys, broadcastable while the
    index is small and hash-partitioned beyond that.
    """
    name = "incremental_line_dedup"
    return _line_dedup(new_df, history_df, text_col, delim, min_chars, name)


def _line_dedup(
    df: DataFrame,
    history_df: DataFrame | None,
    text_col: str,
    delim: str,
    min_chars: int,
    name: str,
) -> DataFrame:
    """Body of ``line_dedup`` (``history_df`` None) and
    ``incremental_line_dedup``; ``name`` words the key-packing refusal.

    Scale shape: posexplode lines; the global keep-first election takes
    MIN of the packed (doc_id, pos) key (``_first_key``) per distinct line
    as a PARTIAL-AGG rollup keyed by the line's 128-bit hash-pair digest
    (fixed-width uniform exchange key; map-side combine collapses a
    mass-duplicated line to one row per map task before any exchange),
    left-joined back onto the line stream (shuffle-hash, so AQE
    skew-split divides a hot probe partition across tasks); then one
    hash exchange on doc_id rebuilds documents with an array_sort over
    the per-doc line list (document-length-bounded). Round 14 de-skew:
    the previous MIN window PARTITIONED BY the raw line string put a
    10⁸-copy cookie-banner line — the exact data this operator exists
    to remove — into ONE WindowExec task with the line text riding
    every row (windows are never AQE-skew-splittable, and the exchange
    key itself was the unbounded string); the rollup+join shape keeps
    every task bounded and exchanges the text only under a
    skew-splittable join.
    """
    # 128-bit xxhash-pair line digest for the history index and the
    # batch election (round 14: was md5-hex; see content_key128)
    lh1, lh2 = content_key128(F.col("line"))
    lines = spread(df).select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), delim, -1)).alias(
            "pos", "line"
        ),
    )
    elig = F.length("line") >= min_chars
    key = _first_key(name)
    elect = (
        lines.where(elig)
        .select(lh1.alias("__hl1"), lh2.alias("__hl2"), key.alias("__k"))
        .groupBy("__hl1", "__hl2")
        .agg(F.min("__k").alias("__mk"))
    )
    first = F.col("__k") == F.col("__mk")
    flagged = lines.select(
        "doc_id",
        "pos",
        "line",
        elig.alias("__elig"),
        key.alias("__k"),
        lh1.alias("__hl1"),
        lh2.alias("__hl2"),
    ).join(elect.hint("shuffle_hash"), ["__hl1", "__hl2"], "left")
    if history_df is not None:
        hist = (
            spread(history_df)
            .select(
                F.explode(F.split(F.col(text_col), delim, -1)).alias("line")
            )
            .where(F.length("line") >= min_chars)
            .select(lh1.alias("__hl1"), lh2.alias("__hl2"))
            .distinct()
        )
        flagged = flagged.join(
            hist.withColumn("__dup", F.lit(True)), ["__hl1", "__hl2"], "left"
        )
        first = first & F.col("__dup").isNull()
    kept = ~F.col("__elig") | first
    rows = flagged.select(
        "doc_id",
        "pos",
        # Round 15 (guide §2.3, shuffle fewer bytes): a REMOVED line's
        # text never reaches the output — only its count does — so null
        # it out before the doc_id rebuild exchange. At corpus scale the
        # mass-duplicated lines this operator exists to remove are
        # exactly the rows that no longer ship their text.
        F.when(kept, F.col("line")).alias("line"),
        kept.alias("__kept"),
    )
    agg = rows.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "__kept", "line"))).alias(
            "ls"
        )
    )
    clean = F.array_join(
        F.expr("transform(filter(ls, s -> s.__kept), s -> s.line)"), delim
    )
    removed = F.size("ls") - F.expr("size(filter(ls, s -> s.__kept))")
    return agg.select(
        "doc_id",
        clean.alias("clean_text"),
        removed.cast("bigint").alias("n_lines_removed"),
    )


def source_dup_stats(
    df: DataFrame, text_col: str = "text", key_col: str = "source"
) -> DataFrame:
    """Per-source duplication diagnostics: within-source duplicate rate and
    cross-source leakage (docs whose exact text also appears under a
    DIFFERENT source) — the domain-level dup-rate report a crawl-curation
    pipeline runs before mixing sources.

    Scale shape: digest texts (md5, never the raw string on the wire),
    one partial-agg rollup to (source, digest, cnt), a COUNT DISTINCT
    window on the digest key for the cross-source fan-out (digest
    partitions are duplicate-frequency-bounded), then one rollup to the
    source grain — which is tiny by definition. No joins.

    A NULL text is not a document: it has no digest, so it is neither
    counted nor shared across sources.
    """
    h = F.md5(F.col(text_col))
    per = (
        spread(df.where(F.col(text_col).isNotNull()))
        .select(F.col(key_col).alias("source"), h.alias("hh"))
        .groupBy("source", "hh")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n_src = F.size(F.collect_set("source").over(Window.partitionBy("hh")))
    wide = per.withColumn("n_sources", n_src)
    out = wide.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.sum("cnt") - F.count(F.lit(1))).alias("dup_docs"),
        F.sum(F.when(F.col("n_sources") >= 2, F.col("cnt")).otherwise(0)).alias(
            "cross_source_docs"
        ),
    )
    ratio = F.col("dup_docs").cast("double") / F.col("n_docs").cast("double")
    return out.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.col("dup_docs").cast("bigint").alias("dup_docs"),
        quantize(ratio, 6).alias("dup_ratio"),
        F.col("cross_source_docs").cast("bigint").alias("cross_source_docs"),
    )


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    head_tokens: int = 8,
) -> DataFrame:
    """Cross-source duplication matrix: for every unordered source pair
    (src_a < src_b), the number of distinct head-shingle fingerprints
    present in BOTH — the mirror/template diagnostic a multi-source
    curation pipeline reads before deciding which source to keep. Exact
    whole-document digests rarely cross sources (mirrors edit footers);
    the md5 of the first ``head_tokens`` tokens is the standard cheap
    head fingerprint.

    Scale shape: one scan → distinct (fingerprint, source) — a map-side-
    combined hash agg — → groupBy fingerprint with an in-row ordered
    pair expansion over the per-fingerprint source SET (bounded by the
    source count, never the corpus) → one final tiny aggregate. No
    self-join: the join-free pair generation is the minhash bucket
    pattern, and the output is #sources² rows at most.

    A NULL text is not a document, so it has no head fingerprint
    (``concat_ws`` would give it the md5 of the empty string).
    """
    key = F.md5(
        F.concat_ws(
            " ", F.slice(F.split(F.col(text_col), " "), 1, head_tokens)
        )
    )
    d = df.where(F.col(text_col).isNotNull()).select(
        key.alias("k"), F.col(source_col).alias("src")
    ).distinct()
    sets = (
        d.groupBy("k")
        .agg(F.array_sort(F.collect_set("src")).alias("ss"))
        .where(F.size("ss") >= 2)
    )
    return (
        sets.select(_inrow_pairs("ss", "x AS src_a, y AS src_b"))
        .groupBy("p.src_a", "p.src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


def incremental_near_dup(
    new: DataFrame,
    hist: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """NEAR-dup screening of a new batch against the HISTORY corpus — the
    per-batch form of ``minhash_near_dup_pairs``, and the near-dup
    upgrade of ``incremental_dedup`` (which catches exact text only): a
    new document is flagged when it shares an LSH band bucket with a
    history document and the signature-estimated Jaccard clears the
    threshold.

    Returns the DROP LIST (doc_id, dup_of, est_jaccard): ``dup_of`` is
    the lowest-id qualifying history doc (deterministic keeper rule,
    matching ``semantic_dedup``), ``est_jaccard`` its estimate. New docs
    absent from the list are clean and enter the corpus.

    Scale shape: this is the INDEX-JOIN form of incremental curation —
    the history side is exactly the (band, band_key) table a production
    pipeline would persist as its dedup index (append-only, one row per
    doc per band), so screening batch B costs one signature pass over B
    plus an equi-join against the index — never a rescan of the history
    corpus text. Hot history buckets above ``bucket_cap`` are mass-dup
    clusters (est ≈ 1 for every member, no ranking signal) and are
    dropped, mirroring the in-corpus pair miner; the oracle applies the
    identical cap. Candidates meet ONLY on full-band agreement — no
    all-pairs term anywhere.
    """
    nb = lsh_bands(minhash_signatures(new, text_col)).select(
        F.col("doc_id").alias("new_id"),
        F.col("sig").alias("nsig"),
        "band",
        "band_key",
    )
    hb = lsh_bands(minhash_signatures(hist, text_col)).select(
        F.col("doc_id").alias("hist_id"),
        F.col("sig").alias("hsig"),
        "band",
        "band_key",
    )
    wcnt = F.count(F.lit(1)).over(Window.partitionBy("band", "band_key"))
    hb = hb.withColumn("__c", wcnt).where(F.col("__c") <= bucket_cap).drop(
        "__c"
    )
    eq = F.expr("size(filter(zip_with(nsig, hsig, (u, v) -> u = v), t -> t))")
    est = eq.cast("double") / F.lit(float(N_HASHES))
    pairs = (
        nb.join(hb, ["band", "band_key"])
        .select("new_id", "hist_id", est.alias("est_jaccard"))
        .groupBy("new_id", "hist_id")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )
    return (
        pairs.groupBy("new_id")
        .agg(
            F.min("hist_id").alias("dup_of"),
            F.expr("min_by(est_jaccard, hist_id)").alias("est_jaccard"),
        )
        .select(F.col("new_id").alias("doc_id"), "dup_of", "est_jaccard")
    )


# Distinct-name occupancy cap per blocking word for fuzzy_pairs: a word
# shared by more distinct values than this is stopword-class and blocks
# nothing (the minhash BUCKET_CAP precedent, at the value grain).
FUZZY_WORD_CAP = 1000


def fuzzy_pairs(
    df: DataFrame,
    name_col: str = "p_name",
    max_dist: int = 2,
    word_cap: int = FUZZY_WORD_CAP,
) -> DataFrame:
    """Edit-distance near-duplicate VALUE pairs — the entity-resolution
    shape ("cold gear" vs "old gear" are probably the same part, affecting
    cnt_a + cnt_b rows). Dedup runs at the DISTINCT-value grain, and the
    candidate contract is word-blocked (pairs must share ≥ 1 word token,
    the declared-blocking convention the LSH family uses): within each
    word's distinct-value list, unordered pairs generate in-row, dedupe
    across shared words, and survive at ``levenshtein ≤ max_dist``.

    Scale shape: the quadratic term is confined to distinct-values-per-
    word, which is VOCABULARY-bounded, never corpus-bounded (the
    vocab_topk argument), and words above ``word_cap`` distinct values are
    stopword-class — they block nothing and are dropped, loudly bounded
    like the minhash hot-bucket cap. Two exchanges (word rollup, pair
    distinct), no joins; ``levenshtein`` is JVM-native codegen on both
    engines with identical unit-cost semantics, so the oracle replays
    byte-for-byte. Mirrors the reference's normalization concern
    (``elt/clean_sheets.py`` lowercases/strips free-text columns before
    grouping) taken to the matching step it never had.
    """
    names = df.groupBy(F.col(name_col).alias("name")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    words = names.select(
        "name",
        "cnt",
        F.explode(F.array_distinct(F.split("name", " ", -1))).alias("w"),
    ).where(F.length("w") > 0)
    wcnt = F.count(F.lit(1)).over(Window.partitionBy("w"))
    ok = words.withColumn("__n", wcnt).where(F.col("__n") <= word_cap)
    lists = (
        ok.groupBy("w")
        .agg(
            F.array_sort(F.collect_list(F.struct("name", "cnt"))).alias("ns")
        )
        .where(F.size("ns") >= 2)
    )
    combos = _inrow_pairs(
        "ns",
        "x.name AS name_a, x.cnt AS cnt_a, y.name AS name_b, y.cnt AS cnt_b",
    )
    pairs = (
        lists.select(combos)
        .select("p.name_a", "p.cnt_a", "p.name_b", "p.cnt_b")
        .distinct()
    )
    d = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return pairs.where(d <= max_dist).select(
        "name_a",
        "name_b",
        d.cast("bigint").alias("dist"),
        "cnt_a",
        "cnt_b",
    )

"""Physical-plan regression guards: the properties PLANS.md documents must
survive future edits — a correct-but-shuffling plan is a regression even
when every value still matches the oracle."""

from __future__ import annotations

import re

import pytest

from .conftest import SF_ORACLE

import __spark_entry__ as entrymod
from data_lakehouse_hygiene_spark import maintenance
from data_lakehouse_hygiene_spark.schemas import load_table


def _plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF_ORACLE)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


@pytest.mark.parametrize(
    "name",
    ["dim_join", "fact_dim_join", "hygiene_score", "ivf_ann"],
)
def test_joins_broadcast_never_sortmerge(spark, name):
    plan = _plan(spark, name)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_cosine_topk_joinless_kernel_plan(spark):
    """Since round 10 the brute-force scoring ships the query set in
    the Arrow kernel's closure — the plan must contain NO join of any
    kind (stronger than broadcast-only: the former broadcast nested
    loop is gone) and exactly one Python stage."""
    plan = _plan(spark, "cosine_topk")
    for op in ("SortMergeJoin", "CartesianProduct",
               "BroadcastNestedLoopJoin", "BroadcastHashJoin"):
        assert op not in plan, plan
    assert "MapInPandas" in plan, plan


@pytest.mark.parametrize(
    "name", ["token_count", "quality_score", "lang_id", "cast_numeric"]
)
def test_per_row_operators_shuffle_free(spark, name):
    plan = _plan(spark, name)
    assert "Exchange" not in plan, plan


def test_embedding_near_dup_no_cartesian(spark):
    """The exact all-pairs cosine compare must run block-pair-replicated —
    each (i, j) block pair on one task via the cogrouped Arrow kernel —
    never a Cartesian/nested-loop product, never a sort-merge join."""
    plan = _plan(spark, "embedding_near_dup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "FlatMapCoGroupsInPandas" in plan, plan


def test_cosine_pairs_kernel_matches_catalyst(spark):
    """The Arrow numpy kernel must be bit-identical to the pure-Catalyst
    shuffle-hash formulation (same quantized integer dot products)."""
    from data_lakehouse_hygiene_spark.operators import similarity

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    got = sorted(
        tuple(r) for r in similarity.cosine_pairs(df).collect()
    )
    want = sorted(
        tuple(r) for r in similarity.cosine_pairs_catalyst(df).collect()
    )
    assert got == want
    assert len(got) > 0


def test_simhash_near_dup_no_join_single_sig_pass(spark):
    """Band-blocked simhash generates pairs in-row: no join operator at
    all, and the shingle explode (the expensive subtree) appears once."""
    plan = _plan(spark, "simhash_near_dup")
    assert "Join" not in plan, plan
    assert plan.count("documents.parquet") == 1, plan


def test_range_join_is_equi_never_nested_loop(spark):
    """The bucketed interval join must plan as an EQUI-join (hash keys
    (user, bucket), containment as residual filter) — a naive theta join
    here plans BroadcastNestedLoopJoin, the quadratic trap at scale."""
    plan = _plan(spark, "range_join")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_cdc_apply_partial_aggregated_no_window(spark):
    """cdc_apply must stay a partial-aggregated max-of-struct (one row per
    key per map partition crosses the shuffle) — never a row_number
    window, which would shuffle the whole changelog."""
    plan = _plan(spark, "cdc_apply")
    assert "Window" not in plan, plan
    # partial + final pair of the sort-based struct aggregate
    assert plan.count("SortAggregate") >= 2, plan


def test_hygiene_score_single_fact_scan(spark):
    plan = _plan(spark, "hygiene_score")
    assert plan.count("events.parquet") == 1, plan


_PLAN_EXEMPT = {
    # streaming plans finalize per micro-batch; dedup_clusters is a
    # driver-looped fixpoint (materializes via localCheckpoint per round)
    "streaming_time_bucket",
    "streaming_sliding_window",
    "streaming_session_window",
    "streaming_dedup",
    "streaming_near_dup",
    # driver-looped iterative fixpoints: constructing the DataFrame runs
    # the bounded per-iteration collect jobs; the printed plan would only
    # show the final assignment pass
    "dedup_clusters",
    "dedup_clusters_star",
    "kmeans_assign",
}


def test_no_sortmergejoin_or_cartesian_anywhere(spark):
    """Engine-wide physical invariant: NO declared batch query may plan a
    SortMergeJoin or a CartesianProduct — every join either broadcasts a
    small side or meets on a shuffled hash key (PLANS.md smj column = 0)."""
    bad = []
    for name in entrymod.queries():
        if name in _PLAN_EXEMPT:
            continue
        plan = _plan(spark, name)
        if "SortMergeJoin" in plan or "CartesianProduct" in plan:
            bad.append(name)
    assert not bad, bad


def _top_level_groups(s: str) -> list[str]:
    """Split a physical-plan argument string into its top-level
    [...]-bracket groups (bracket-depth-aware — window frame specs nest
    brackets inside the group)."""
    groups, depth, cur = [], 0, ""
    for ch in s:
        if ch == "[":
            if depth > 0:
                cur += ch
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                cur = ""
            else:
                cur += ch
        elif depth > 0:
            cur += ch
    return groups


# vocab_topk's ranking window is unpartitioned BY DESIGN but provably
# bounded: its input is the TakeOrderedAndProject(limit=top_k) output, so
# at most k rows (k=100) ever enter the single partition — the guarded
# class of bug (corpus-sized single-task windows) cannot occur. A
# dedicated test below asserts the limit really precedes the window.
# shard_assign is NOT blanket-exempt (round 15, scoping the round-14
# advisory): sampling.global_rank's bucket count is data-proportional
# (est bytes / GR_BYTES_PER_BUCKET), so BELOW the byte budget the chosen
# plan is legitimately one single-task window over a provably small
# input (Catalyst folds the constant __bkt partition key away, which is
# exactly what this plan-text check would flag). The tree-wide guard
# instead plans shard_assign with the budget forced under the fixture
# size — the corpus-scale shape — so a regression that routes it onto a
# single-task window through ANY other path (a new window, a zeroed
# size estimate) is still caught. See
# test_no_unpartitioned_window_anywhere's shard_assign special case.
_WINDOW_EXEMPT = _PLAN_EXEMPT | {"vocab_topk", "vocab_encode"}


@pytest.mark.parametrize("name", ["vocab_topk", "vocab_encode"])
def test_vocab_window_input_is_limit_bounded(spark, name):
    """The unpartitioned ranking/id-assignment window in the vocab
    operators must consume the top-k limit's output, never the raw term
    table. vocab_encode's registry query takes the in-row map-literal
    path (the vocab builds at CONSTRUCTION time, so the returned plan
    has no window at all) — force the broadcast-join path so the guard
    checks the plan that actually contains the window."""
    from data_lakehouse_hygiene_spark.operators import text as T

    old = T.VOCAB_INLINE_MAX
    if name == "vocab_encode":
        T.VOCAB_INLINE_MAX = 0
    try:
        plan = _plan(spark, name)
    finally:
        T.VOCAB_INLINE_MAX = old
    assert "TakeOrderedAndProject" in plan, plan
    window_at = plan.find("Window ")
    limit_at = plan.find("TakeOrderedAndProject")
    # Physical plans print top-down: the window node must appear ABOVE
    # (before) the limit that feeds it.
    assert 0 <= window_at < limit_at, plan


def test_no_unpartitioned_window_anywhere(spark):
    """Engine-wide physical invariant: no declared batch query may plan a
    Window with an EMPTY partition spec — ``Window.orderBy`` without
    ``partitionBy`` funnels the whole input through one task (round 2
    shipped exactly this bug in pack_sequences/ntile_quartiles; both were
    redesigned as two-phase bucketed forms in round 3, and this guard
    keeps the class of bug from regressing silently).

    Plan text: a Window node prints ``Window [funcs], [part], [order]``;
    the partition group is the one with no ASC/DESC sort direction. A
    node whose non-function groups are all sort specs (or all empty) is
    an unpartitioned window."""
    from data_lakehouse_hygiene_spark.operators import sampling

    bad = []
    for name in entrymod.queries():
        if name in _WINDOW_EXEMPT:
            continue
        if name == "shard_assign":
            # Scoped exemption (see _WINDOW_EXEMPT comment): below the
            # byte budget global_rank legitimately folds the single
            # bucket's constant partition key away, so plan the
            # corpus-scale shape instead — budget forced under the
            # fixture size — and hold THAT plan to the invariant.
            save = sampling.GR_BYTES_PER_BUCKET
            sampling.GR_BYTES_PER_BUCKET = 1
            try:
                plan = _plan(spark, name)
            finally:
                sampling.GR_BYTES_PER_BUCKET = save
        else:
            plan = _plan(spark, name)
        for line in plan.splitlines():
            m = re.search(r"\bWindow (\[.*)$", line.strip())
            if not m:
                continue
            spec = _top_level_groups(m.group(1))[1:]
            partitioned = any(
                g.strip() and not re.search(r"\b(ASC|DESC)\b", g)
                for g in spec
            )
            if not partitioned:
                if name == "shard_assign" and re.search(
                    r"sum\(__cnt#\d+L?\) windowspecdefinition\(__bkt#",
                    line,
                ):
                    # global_rank's per-bucket offsets: a cumulative sum
                    # over the BUCKET-COUNTS frame (<= n_parts rows by
                    # construction), unpartitioned by design and bounded
                    # — the data-sized ranking window stays partitioned.
                    continue
                bad.append((name, line.strip()[:120]))
    assert not bad, bad


def test_whole_stage_codegen_active(spark):
    plan = _plan(spark, "group_count_ordered")
    assert re.search(r"\*\(\d+\)", plan), plan


def test_profile_table_hll_path(spark):
    """approx_distinct=True (the 100 TB setting) runs and lands within 10%
    of exact on a 500-distinct column."""
    docs = load_table(spark, SF_ORACLE, "documents")
    prof = {
        r["column"]: r["n_distinct"]
        for r in maintenance.profile_table(docs, approx_distinct=True).collect()
    }
    assert abs(prof["doc_id"] - 500) / 500 < 0.10


def test_approx_quantiles_envelope_rank_is_partitioned(spark):
    """The exact-rank envelope inside approx_quantiles runs EAGERLY in the
    query callable, so the engine-wide unpartitioned-window sweep (which
    inspects only the RETURNED DataFrame, a literal) cannot see it. Guard
    the internal plan directly: rank the same input with global_rank as
    the query does and assert its Window is partitioned (round 5's form
    used Window.orderBy — one task for the whole fact table)."""
    from data_lakehouse_hygiene_spark.operators.ordering import global_rank
    from data_lakehouse_hygiene_spark.schemas import load_table

    li = load_table(spark, SF_ORACLE, "lineitem").select("l_extendedprice")
    ranked, n = global_rank(li, "l_extendedprice", rank_col="rn")
    assert n > 0
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        m = re.search(r"\bWindow (\[.*)$", line.strip())
        if not m:
            continue
        spec = _top_level_groups(m.group(1))[1:]
        assert any(
            g.strip() and not re.search(r"\b(ASC|DESC)\b", g) for g in spec
        ), line


def _two_tight_clusters(spark, n_per=30, dim=8):
    """Two well-separated tight clusters on the sphere: members within a
    few degrees of +e1 / -e1 — the regime where centroid pruning must
    drop the cross-cluster block pair."""
    import math

    rows = []
    for i in range(n_per):
        eps = 0.02 * (i % 5)  # deterministic small spread
        a = [1.0, eps, -eps] + [0.0] * (dim - 3)
        b = [-1.0, -eps, eps] + [0.0] * (dim - 3)
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        rows.append((2 * i, [x / na for x in a]))
        rows.append((2 * i + 1, [x / nb for x in b]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_prune_block_pairs_drops_separated_clusters():
    """The driver-side pruning rule: two tight antipodal clusters → the
    cross block pair's cosine upper bound is ≈ −1, far below any positive
    threshold, so (0, 1) is pruned while the self pairs survive."""
    import numpy as np

    from data_lakehouse_hygiene_spark.operators.similarity import (
        _kmeans_fit_local,
        _prune_block_pairs,
    )

    rng_free = []
    for i in range(20):
        eps = 0.02 * (i % 5)
        rng_free.append([1.0, eps, -eps, 0.0])
        rng_free.append([-1.0, -eps, eps, 0.0])
    X = np.floor(np.array(rng_free) * 1e6 + 0.5).astype(np.int64)
    cents = _kmeans_fit_local(X, 2, 2)
    # radii from the full data, same law-of-cosines form the operator uses
    d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    cl = d.argmin(axis=1)
    na2 = (X * X).sum(axis=1)
    nc2 = (cents * cents).sum(axis=1)
    cm = (na2 + nc2[cl] - d[np.arange(len(X)), cl]) / (
        2.0 * np.sqrt(na2.astype(float)) * np.sqrt(nc2[cl].astype(float))
    )
    min_cos = [float(cm[cl == ci].min()) for ci in range(2)]
    kept = _prune_block_pairs([list(map(int, c)) for c in cents], min_cos, 0.6)
    assert (0, 0) in kept and (1, 1) in kept
    assert (0, 1) not in kept  # the cross pair never launches
    # a permissive threshold keeps everything (bound can't prune cos ≥ −1)
    assert len(_prune_block_pairs(
        [list(map(int, c)) for c in cents], min_cos, -1.0
    )) == 3


def test_cosine_pairs_kmeans_path_matches_catalyst(spark, monkeypatch):
    """Forcing the cluster-blocked pruned path (COSINE_SMALL_BYTES = 0) on
    both the
    fixture corpus and a synthetic clustered corpus must reproduce the
    pure-Catalyst witness bit-for-bit — pruning is an over-approximation,
    never a semantics change."""
    from data_lakehouse_hygiene_spark.operators import similarity

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    monkeypatch.setattr(similarity, "COSINE_SMALL_BYTES", 0)
    got = sorted(tuple(r) for r in similarity.cosine_pairs(df).collect())
    want = sorted(
        tuple(r) for r in similarity.cosine_pairs_catalyst(df).collect()
    )
    assert got == want and len(got) > 0

    clustered = _two_tight_clusters(spark)
    # two k-means blocks (and a two-block witness)
    monkeypatch.setattr(similarity, "N_BLOCKS", 2)
    monkeypatch.setattr(similarity, "KMEANS_MAX_BLOCKS", 2)
    got2 = sorted(
        tuple(r)
        for r in similarity.cosine_pairs(clustered, threshold=0.6).collect()
    )
    want2 = sorted(
        tuple(r)
        for r in similarity.cosine_pairs_catalyst(
            clustered, threshold=0.6
        ).collect()
    )
    assert got2 == want2 and len(got2) > 0
    # sanity: every surviving pair is within-cluster (even ids with even)
    assert all((a % 2) == (b % 2) for a, b, _ in got2)


def test_cosine_pairs_size_gate(spark):
    """The exact quadratic path must refuse corpus-scale inputs at plan
    time (no job) and stay a no-op on the fixture corpus."""
    import pytest
    from pyspark.sql import functions as F

    from data_lakehouse_hygiene_spark.operators import similarity

    big = spark.range(0, 1 << 30).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(F.lit(0.1), 64)
        .cast("array<float>")
        .alias("embedding"),
    )
    with pytest.raises(ValueError, match="EXACT quadratic"):
        similarity.cosine_pairs(big)
    # fixture corpus sails through the gate (already exercised elsewhere,
    # assert explicitly that construction succeeds)
    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    similarity.cosine_pairs(df)


def test_simhash_kernel_path_matches_expression_path(spark):
    """For both SimHash widths the size-gated Arrow popcount kernel must
    produce exactly the expression-combo result (integer ops both
    sides), and the small fixture corpus must stay on the no-Python
    plan."""
    from data_lakehouse_hygiene_spark.operators import dedup as D

    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    for pairs in (D.simhash_near_dup_pairs, D.simhash128_near_dup_pairs):
        expr_pairs = sorted(tuple(r) for r in pairs(df).collect())
        plan = pairs(df)._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan  # fixture: no Python
        old = D.SIMHASH_KERNEL_BYTES
        D.SIMHASH_KERNEL_BYTES = 0  # force the kernel path
        try:
            kern = pairs(df)
            kern_plan = kern._jdf.queryExecution().executedPlan().toString()
            kern_pairs = sorted(tuple(r) for r in kern.collect())
        finally:
            D.SIMHASH_KERNEL_BYTES = old
        assert expr_pairs == kern_pairs and len(expr_pairs) > 0
        assert "FlatMapGroupsInPandas" in kern_plan

"""Join operators J1-J4 (SURVEY.md §2.3).

The reference joins are all *left equi-joins of a fact against tiny dims*
(``/root/reference/elt/clean_sql.py:64-69``,
``elt/prescriptive/prescriptive_logic.py:97,122``,
``elt/load/load_aktivitas_to_neon.py:57-61``) plus one scalar-subquery
non-equi filter (Metabase card 43,
``docker/metabase_backup_utf8.sql:11129``).

Scale design: dims are broadcast explicitly — at 100 TB the fact side never
shuffles for these joins (BroadcastHashJoin, no exchange on the big side).
The scalar-subquery window is an aggregate + broadcast of a 1-row relation,
NOT a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dim_join(
    fact: DataFrame, dim: DataFrame, on: str | list[str], how: str = "left"
) -> DataFrame:
    """J1/J2/J3: left equi-join with an explicitly broadcast dim.

    ``broadcast()`` pins BroadcastHashJoinExec regardless of
    autoBroadcastJoinThreshold — the fact side keeps its partitioning and no
    shuffle exchange is introduced.
    """
    return fact.join(F.broadcast(dim), on=on, how=how)


def window_after_event(
    facts: DataFrame, markers: DataFrame, fact_ts: str, marker_ts: str
) -> DataFrame:
    """P8+J4: rows of ``facts`` strictly after the latest marker event.

    Reference: ``catatan[catatan.timestamp > waktu_mandi_terakhir]``
    (``prescriptive_logic.py:90``) and the dashboard's scalar subquery
    ``WHERE ts > (SELECT MAX(waktu_mandi) FROM riwayat_mandi)``
    (``metabase_backup_utf8.sql:11129``).

    Implemented as a cross-join against the 1-row aggregate — Catalyst turns
    this into a broadcast nested-loop over a single row, i.e. the marker is
    computed once and streamed against every fact partition; no driver
    ``collect()`` round-trip, so the whole thing stays one job and is safe to
    compose lazily.
    """
    cutoff = markers.agg(F.max(F.col(marker_ts)).alias("__cutoff"))
    return (
        facts.join(F.broadcast(cutoff))
        .where(F.col(fact_ts) > F.col("__cutoff"))
        .drop("__cutoff")
    )


BLOOM_BITS_LOG2 = 20  # 2^20 bits = 128 KiB bitmap, 16384 64-bit words
BLOOM_K = 2


def bloom_prune_semi_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    bits_log2: int = BLOOM_BITS_LOG2,
    k: int = BLOOM_K,
) -> DataFrame:
    """Semi join with an explicit Bloom-filter pre-prune: rows of ``probe``
    whose ``key`` exists in ``build``, with the probe side first reduced by
    a broadcast Bloom bitmap built from the build keys.

    Result is EXACTLY the plain left-semi join (a Bloom filter has no
    false negatives; survivors still pass through the exact semi join).
    What changes is the shuffle economics at 100 TB: the probe side is cut
    to (true matches + false-positive rate) BEFORE any exchange, the same
    job Spark's runtime row-level Bloom join
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) does for purely
    equi plans — this operator makes the reduction explicit, engine-
    portable (md5-derived bit positions, no engine-native hash), and
    usable in front of joins the runtime filter does not cover.

    Plan shape: the bitmap is ONE hash aggregate over the build keys
    (2^bits_log2 / 64 words — 16 K rows at the default, broadcastable by
    construction), ``k`` broadcast-hash probes attach the relevant words
    to each probe row (word index is a pure column expr), and a residual
    AND-mask filter drops non-members. No shuffle touches the probe side
    until after the prune.
    """
    def positions(col: Column) -> list[Column]:
        # k independent bit positions from disjoint md5 nibbles of the key
        h = F.md5(col.cast("string"))
        return [
            F.conv(F.substring(h, 1 + 8 * j, 8), 16, 10)
            .cast("bigint")
            .bitwiseAND(F.lit(2**bits_log2 - 1))
            for j in range(k)
        ]

    # NB: the SQL shiftleft/shiftrightunsigned accept a column shift amount;
    # the Python wrappers accept only a literal int, so go through
    # call_function for the per-row shift.
    # The k per-position word/bit rows come from ONE scan of the build
    # side via an in-row explode — a unionByName of k projections scans
    # (and at 100 TB re-shuffles) the build relation k times.
    word_bits = F.array(
        *[
            F.struct(
                (pos / 64).cast("int").alias("__w"),
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("bigint"),
                    (pos % 64).cast("int"),
                ).alias("__b"),
            )
            for pos in positions(F.col(key))
        ]
    )
    bitmap = (
        build.select(F.explode(word_bits).alias("g"))
        .select("g.__w", "g.__b")
        .groupBy("__w")
        .agg(F.bit_or("__b").alias("__word"))
    )

    pruned = probe
    for j, pos in enumerate(positions(F.col(key))):
        w = bitmap.select(
            F.col("__w").alias(f"__w{j}"), F.col("__word").alias(f"__word{j}")
        )
        pruned = pruned.join(
            F.broadcast(w),
            (pos / 64).cast("int") == F.col(f"__w{j}"),
            "left",
        ).where(
            F.coalesce(
                F.call_function(
                    "shiftrightunsigned",
                    F.col(f"__word{j}"),
                    (pos % 64).cast("int"),
                ).bitwiseAND(F.lit(1)),
                F.lit(0),
            )
            == 1
        ).drop(f"__w{j}", f"__word{j}")
    # exact semi join on the (tiny) survivor stream — correctness anchor
    return pruned.join(build.select(key).distinct(), key, "left_semi")


def salted_join(
    fact: DataFrame,
    other: DataFrame,
    on: str,
    salt_buckets: int = 4,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join of two LARGE tables (neither broadcastable):
    the fact side gets a deterministic salt, the other side is replicated
    once per salt value, and the join key becomes (key, salt) — a hot key's
    rows spread over ``salt_buckets`` reducers instead of one.

    Results are identical to the plain join; only the shuffle distribution
    changes. Salt is a hash of the fact row (retry-safe, no rand()).
    Replication multiplies the other side ×salt_buckets — use only when a
    skewed key actually exists and AQE's skew-join split is insufficient.
    """
    from pyspark.sql import functions as F

    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(salt_buckets)
    )
    f = fact.withColumn("__salt", salt)
    o = other.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])),
    )
    return f.join(o, on=[on, "__salt"], how=how).drop("__salt")

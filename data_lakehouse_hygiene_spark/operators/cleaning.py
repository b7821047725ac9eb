"""Cleaning operators P1-P7 (SURVEY.md §2.2).

Reference behaviors re-expressed as native column expressions:
- column-name normalization (``/root/reference/elt/clean_sheets.py:59-68``)
- coerce-to-NULL timestamp/numeric casts (``elt/clean_sheets.py:104-121``:
  ``pd.to_datetime/to_numeric(errors="coerce")``)
- null-drop on required columns (``elt/clean_sheets.py:111,123``)
- serving projection (``elt/load/load_aktivitas_to_neon.py:65-72``)

All of these are pure Catalyst expressions — they stay inside whole-stage
codegen, push down through scans, and never leave the JVM.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_name(name: str) -> str:
    """lower_snake_case a single column name (P1).

    Mirrors strip → lower → internal-whitespace→_ → BOM strip
    (``elt/clean_sheets.py:59-68``), applied to the *schema*, driver-side —
    zero cost at any data scale.
    """
    cleaned = name.replace("﻿", "").strip().lower()
    return "_".join(cleaned.split())


def normalize_columns(df: DataFrame) -> DataFrame:
    """P1: normalize every column name. Pure metadata op, no job triggered."""
    return df.toDF(*[normalize_name(c) for c in df.columns])


def cast_timestamp(df: DataFrame, cols: Iterable[str], fmt: str | None = None) -> DataFrame:
    """P2: coerce string columns to timestamp; unparseable → NULL.

    ``try_to_timestamp`` keeps the coerce-to-NULL contract even under ANSI
    mode (Spark 4 defaults ANSI on).
    """
    out = df
    for c in cols:
        expr = (
            F.try_to_timestamp(F.col(c), F.lit(fmt)) if fmt else F.try_to_timestamp(F.col(c))
        )
        out = out.withColumn(c, expr)
    return out


def cast_numeric(df: DataFrame, cols: Iterable[str], dtype: str = "double") -> DataFrame:
    """P3: coerce string columns to numeric; garbage → NULL (try_cast)."""
    out = df
    for c in cols:
        out = out.withColumn(c, F.col(c).try_cast(dtype))
    return out


def drop_null_rows(df: DataFrame, required: Iterable[str]) -> DataFrame:
    """P4: drop rows whose required columns are NULL.

    The NOT NULL predicates push down to the Parquet scan (visible as
    ``PushedFilters: [IsNotNull(...)]`` in the formatted plan).
    """
    return df.na.drop(subset=list(required))


def project(df: DataFrame, cols: Iterable[str]) -> DataFrame:
    """P7: explicit serving projection → Catalyst column pruning reaches the
    scan (ReadSchema shrinks to exactly these columns)."""
    return df.select(*cols)


def compound_predicate(
    metric: Column, threshold: float, label: Column, needle: str
) -> Column:
    """P9: the reference's ``filter_bau`` row-UDF
    (``elt/prescriptive/prescriptive_logic.py:124-132``: keep rows with
    ``skor_met > 3.0 OR "outdoor" in lower(category)``) de-UDF'd into a
    native predicate — JVM-side, pushdown-eligible, ~100× a Python row UDF.
    """
    return (metric > F.lit(threshold)) | F.lower(label).contains(needle)


def _estimated_bytes(df: DataFrame, unknown: int | None = 0) -> int | None:
    """Catalyst's estimated size of ``df``'s input (file-size based for
    parquet scans) — a planning-time statistic, no job runs. Returns
    ``unknown`` (0 by default: the small-input plan) if the stats walk
    fails, AND when Catalyst reports its unknown-stats sentinel:
    LogicalRDD / createDataFrame-backed plans have no file statistics and
    surface ``spark.sql.defaultSizeInBytes`` (Long.MaxValue by default),
    which is "size unknown", not "huge" — treating it as huge would route
    tiny in-memory inputs onto the corpus-scale plans (and, pre-round-9,
    did)."""
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return unknown
    # Long.MaxValue sentinel (or any absurd >=2^62 estimate product of it
    # propagating through multipliers): stats are unknown.
    return unknown if size >= (1 << 62) else size


# Bytes of (estimated) input per spread() fan-out task at cost=1. Read
# at call time (module global) so width experiments can interleave arms
# in one process by patching it. Round 14: 256 KB → 128 KB after an
# interleaved A/B over all 24 spread-using headline rows (sf0.1,
# median-of-5 per arm in ONE process): totals 15.52 s @256 KB /
# 14.43 s @128 KB / 14.92 s @64 KB — 128 KB wins overall and no single
# row regresses past its noise envelope.
SPREAD_BYTES_PER_TASK = 128 << 10


def spread(df, key: str = "doc_id", cost: int = 1):
    """Repartition small under-split inputs before CPU-heavy per-row work.

    A single small Parquet file arrives as ONE input partition, serializing
    hash/shingle projections on one core. Shuffling the (tiny) document rows
    costs far less than it saves; on a properly-split 100 TB scan the
    partition count already exceeds the target and this is a no-op.

    The under-split check uses Catalyst's metadata-only size estimate
    (``optimizedPlan().stats().sizeInBytes`` — file-index bytes for scans,
    no job, no plan-to-RDD translation; ``df.rdd.getNumPartitions()`` would
    force an RDD translation of the whole plan on every call). Inputs
    estimated below ``target × maxPartitionBytes`` are exactly the ones the
    scan planner would leave under-split; anything bigger — or any plan
    whose size Catalyst can't estimate — is left untouched.

    The fan-out is DATA-PROPORTIONAL, one task per ~128 KB of input
    capped at the core count, not a flat ``defaultParallelism``: the
    per-row CPU work saturates long before the scan planner would split
    the file, and a flat 32-task stage over a sub-MB corpus is pure
    scheduling floor (the round-12 interleaved A/B measured −30% for the
    data-proportional count vs flat 32; the round-14 A/B above moved the
    divisor to 128 KB).

    ``cost`` scales the width for call sites whose PER-BYTE CPU far
    exceeds the typical shingle projection — the SWAR fingerprint
    aggregates evaluate 16 (64-bit) / 32 (128-bit) shift-mask sums per
    exploded shingle row, so their optimal task size is proportionally
    smaller. Width-sweep medians at sf0.1 (one process, interleaved):
    simhash128 1.48 s @width 3 → 0.99 s @16; simhash64 1.11 → 0.84;
    minhash 0.44 → 0.36 @8-10. cost multiplies the estimated size, so a
    cost-4 site reaches the core-count cap at 1/4 the input bytes; the
    ≥ target×128 MB no-op early-exit is unchanged (at cluster scale the
    scan planner's own splits already exceed the core count).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    size = _estimated_bytes(df, unknown=None)
    if size is None or size >= target * (128 << 20):
        return df
    n = min(target, max(2, int(size * cost // SPREAD_BYTES_PER_TASK) + 1))
    return df.repartition(n, key)

"""Sort / top-1 / limit operators O1-O3 (SURVEY.md §2.5) + latest-snapshot S5.

Reference: full sort after flatten (``/root/reference/elt/clean_bmkg.py:73``),
latest-row top-1 (``elt/prescriptive/prescriptive_logic.py:72-73`` and the
``ORDER BY ... DESC LIMIT 1`` dashboard cards), LIMIT (card 44), and the
"latest object" scan over the raw zone (``elt/clean_sheets.py:42-51``).

Scale design: top-1/latest-row is NEVER a global sort — it's a max-aggregate
(1-row broadcast) semi-joined back, or a per-group window. ``orderBy(...)
.limit(1)`` would sort 100 TB to keep one row; the aggregate form is one
map-reduce over partial maxes.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def full_sort(df: DataFrame, *cols: str, desc: bool = False) -> DataFrame:
    """O1: total-order sort (range-partitioned exchange + per-partition sort).
    Only meaningful for serving/export; analytical consumers should rely on
    the order-insensitive result set."""
    ordering = [F.desc(c) if desc else F.asc(c) for c in cols]
    return df.orderBy(*ordering)


def latest_rows(df: DataFrame, ts: str) -> DataFrame:
    """O2: rows carrying the global maximum timestamp.

    Aggregate max → broadcast 1-row relation → equi-filter. Two scans of the
    (column-pruned) ts column beat one global sort by orders of magnitude at
    scale; ties are kept (deterministic under duplicates).
    """
    mx = df.agg(F.max(F.col(ts)).alias("__mx"))
    return df.join(F.broadcast(mx), on=df[ts] == mx["__mx"], how="inner").drop("__mx")


def latest_snapshot(df: DataFrame, group: str, ts: str) -> DataFrame:
    """S5: per-group latest rows ("auto-detect terbaru",
    ``elt/clean_sheets.py:42-51``): for each ``group`` keep the rows with
    that group's max ``ts``.

    Implemented as a grouped max + broadcast join back (the grouped max is
    tiny: one row per source/partition name). With millions of groups,
    switch to the window-function form (single shuffle on group):
    ``row_number() over (partition by group order by ts desc) = 1``.
    """
    mx = df.groupBy(group).agg(F.max(F.col(ts)).alias("__mx"))
    return (
        df.join(F.broadcast(mx), on=[group], how="inner")
        .where(F.col(ts) == F.col("__mx"))
        .drop("__mx")
    )


def _range_prefix(
    df: DataFrame,
    order: list[Column],
    bucket_on: tuple[str, bool],
    local: Callable[[WindowSpec], Column],
    measure: Column,
    out: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """A running prefix over a TOTAL ``order`` with no single-task global
    window: the one range-bucket core of both global ranks and of
    ``text.pack_sequences``' token offsets. Adds column ``out`` =
    ``local(w)`` plus the sum of ``measure`` over every range bucket
    before the row's, where ``w`` orders the row's own bucket.

    ``bucket_on=(name, ascending)`` names the first sort column (must be
    percentile-able: numeric/temporal) and its direction. Its value
    domain splits into at most ``n_buckets`` ordered ranges (default: one
    per shuffle partition, so even a small input keeps partitioned
    windows) at approx-percentile cuts baked into the plan as LITERALS,
    so every consumer of ``__bkt`` computes the same bucket for a row in
    every branch and every retry. Rows equal to a cut share a bucket, so
    bucket order is monotone in the sort order; NULLs get sentinel bucket
    -1, which comes first under ascending order and last under
    descending, like Spark's ASC NULLS FIRST / DESC NULLS LAST window
    defaults. The start offsets are computed IN the plan: the per-bucket
    measures (at most ``n_buckets`` + 1 rows) gather into one sorted
    array whose exclusive running sums broadcast back, with no window,
    no second pass over the data and no driver collect.
    """
    name, asc = bucket_on
    if n_buckets is None:
        n_buckets = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts: list = []
    if probs:
        # collect(), not first(): first() is take(1), which runs the
        # 1-row aggregate as TWO incremental-limit jobs.
        rows = df.select(
            F.percentile_approx(name, probs, 10000).alias("c")
        ).collect()
        cuts = sorted(set(rows[0]["c"] or [])) if rows else []
    if not cuts:
        # single bucket (small or constant-valued input): every row —
        # NULLs included, the window's own NULLS FIRST/LAST ordering
        # places them — shares bucket 0, the offset is identically 0,
        # and the offsets branch and its broadcast join are skipped
        # outright: the plan is scan → one partitioned window.
        bucketed = df.withColumn("__bkt", F.lit(0))
        w = Window.partitionBy("__bkt").orderBy(*order)
        return bucketed.withColumn("__local", local(w)).select(
            *df.columns, F.col("__local").cast("bigint").alias(out)
        )
    val_bkt = reduce(
        add,
        [(F.col(name) > F.lit(c)).cast("int") for c in cuts],
        F.lit(0),
    )
    bucketed = df.withColumn(
        "__bkt",
        F.when(F.col(name).isNull(), F.lit(-1)).otherwise(val_bkt),
    )
    w = Window.partitionBy("__bkt").orderBy(*order)
    ranked = bucketed.withColumn("__local", local(w))
    per = bucketed.groupBy("__bkt").agg(
        F.struct(
            (F.col("__bkt") if asc else -F.col("__bkt")).alias("pos"),
            F.col("__bkt").alias("bkt"),
            F.coalesce(measure, F.lit(0)).cast("bigint").alias("m"),
        ).alias("__s")
    )
    runs = F.array_sort(F.collect_list("__s"))
    offs = per.agg(runs.alias("__r")).select(
        F.inline(
            F.transform(
                "__r",
                lambda s, i: F.struct(
                    s["bkt"].alias("__bkt"),
                    F.aggregate(
                        F.slice("__r", 1, i),
                        F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x["m"],
                    ).alias("__off"),
                ),
            )
        )
    )
    # A left join: every bucket has its offset row, and an inner join
    # would make Catalyst re-evaluate the bucket ladder per row in an
    # inferred isnotnull(__bkt) scan filter.
    return ranked.join(F.broadcast(offs), "__bkt", "left").select(
        *df.columns,
        (F.col("__local").cast("bigint") + F.col("__off")).alias(out),
    )


def global_rank(
    df: DataFrame, *order_cols: str, rank_col: str = "rank"
) -> tuple[DataFrame, int]:
    """Scale-safe global ``row_number`` over the ascending total order
    ``order_cols`` — the distributed replacement for ``Window.orderBy(...)``
    with no partition key (which funnels the whole table through ONE
    task): ``_range_prefix`` with the per-bucket ``row_number`` and
    counts, one bucket per shuffle partition (``sampling.global_rank``
    sizes the buckets from the data instead).

    Returns ``(df_with_rank, total_rows)``; the total is one count."""
    ranked = _range_prefix(
        df,
        [F.asc(c) for c in order_cols],
        (order_cols[0], True),
        lambda w: F.row_number().over(w),
        F.count(F.lit(1)),
        rank_col,
    )
    return ranked, df.count()


def global_ntile(
    df: DataFrame, n_tiles: int, *order_cols: str, tile_col: str = "tile"
) -> DataFrame:
    """Scale-safe ``NTILE(n)`` over a total order, built on ``global_rank``
    instead of a single-partition global window.

    Reproduces SQL NTILE's exact bucket-size rule (the first ``n mod k``
    tiles get one extra row) from the global rank: with ``base = n // k``
    and ``rem = n % k``, rank r maps to ``ceil(r / (base+1))`` inside the
    first ``rem*(base+1)`` rows and ``rem + ceil((r - rem*(base+1)) / base)``
    after. Output type matches Spark's ``ntile`` (int)."""
    ranked, n = global_rank(df, *order_cols, rank_col="__rank")
    base, rem = divmod(n, n_tiles)
    r = F.col("__rank")
    if base == 0:
        tile = r
    else:
        head = rem * (base + 1)
        in_tail = F.lit(rem) + F.ceil(
            (r - F.lit(head)).cast("double") / F.lit(base)
        )
        if rem:
            in_head = F.ceil(r.cast("double") / F.lit(base + 1))
            tile = F.when(r <= F.lit(head), in_head).otherwise(in_tail)
        else:
            tile = in_tail
    return ranked.withColumn(tile_col, tile.cast("int")).drop("__rank")


def top_k_per_group(
    df: DataFrame,
    group: str | list[str],
    order: str,
    k: int,
    tie: str | None = None,
) -> DataFrame:
    """Top-k rows per group via ranked window, rank kept in ``rk``.

    The canonical "best k documents per (lang, source) by quality" selector
    of a curation pipeline. One shuffle on the group key — the window
    partitions BY GROUP (never a global sort), so every group ranks
    independently and AQE splits skewed groups. ``tie`` (ascending) makes
    the cut deterministic when ``order`` values repeat; pass the primary
    key."""
    group = [group] if isinstance(group, str) else group
    ordering = [F.desc(order)] + ([F.asc(tie)] if tie else [])
    w = Window.partitionBy(*group).orderBy(*ordering)
    return df.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)

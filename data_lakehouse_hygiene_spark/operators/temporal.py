"""Temporal operators Spark lacks as builtins: as-of join, range
(interval-containment) join, gap-based sessionization, and LOCF gap fill.

The reference approximates "state relative to the latest marker" with a
global scalar (``prescriptive_logic.py:78-90``); these generalize it
per-key, which is what an event pipeline needs at scale.

Scale design:
- ``asof_join`` is the union+window formulation: tag both streams, union,
  and carry the last marker forward with a running ``last(ignoreNulls)``
  window. ONE shuffle (by key) + ONE sort — no range cross-join, no
  per-event probe. This is the standard big-data as-of (Flink/kdb-style)
  shape and scales linearly in events+markers.
- ``sessionize`` is lag + conditional cumulative sum over the same
  (key, ts) window — again one shuffle + one sort.
- ``range_join`` buckets the time axis: each interval explodes to the
  fixed-width buckets it overlaps, events land in exactly one bucket, and
  the match becomes an EQUI-join on (key, bucket) + a residual containment
  filter. Without this, Spark plans a point-in-interval theta join as
  BroadcastNestedLoop / Cartesian — the quadratic trap. Expansion factor
  is bounded by interval_length/bucket + 1, chosen per workload.
- ``gap_fill`` builds the bucket spine from a per-key min/max aggregate
  (tiny) exploded via ``sequence`` — never a driver-side loop — and
  carries values forward with a KEY-partitioned ``last(ignorenulls)``
  window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .cleaning import _estimated_bytes

# Planned-explode refusal knobs (round 13 — the cosine_pairs pattern,
# similarity.py:518): range_join and gap_fill were the engine's last
# data-dependent explode terms with no refusal path. One corrupt
# open-ended interval (a 9999-12-31 sentinel end_ts) at the default
# 3600 s bucket plans ~70M exploded rows from ONE input row; one
# epoch-0 timestamp in a key makes a ~490k-row LOCF spine per key at
# hourly buckets — both invisible to input-byte estimates. Inputs past
# the probe floor pay ONE column-pruned aggregate computing the EXACT
# planned row term before any explode task launches, and refuse above
# the budget naming the knob.
RANGE_PROBE_BYTES = 16 << 20  # probe floor: a COST trade-off, not a
# bound — per-row expansion is the data-dependent term, so a sub-floor
# interval table of sentinel rows can still plan a huge explode. The
# floor only skips the probe when the caller accepted the DEFAULT
# budget; passing an explicit max_explode_rows/max_spine_rows always
# runs the probe (round 14, per driver advice).
RANGE_EXPLODE_MAX_ROWS = 2_000_000_000  # ~2e9 exploded interval rows
GAP_PROBE_BYTES = 16 << 20
GAP_SPINE_MAX_ROWS = 2_000_000_000  # ~2e9 spine rows across all keys


def asof_join(
    events: DataFrame,
    markers: DataFrame,
    *,
    key: str,
    ts: str,
    marker_ts_out: str = "asof_ts",
) -> DataFrame:
    """For each event row, attach the latest marker timestamp with
    ``marker.ts <= event.ts`` for the same key (inclusive, DuckDB ASOF JOIN
    semantics). Events with no preceding marker get NULL."""
    tagged_e = events.withColumn("__is_marker", F.lit(0)).withColumn(
        "__mts", F.lit(None).cast(events.schema[ts].dataType)
    )
    tagged_m = markers.select(
        key, F.col(ts).alias(ts)
    ).withColumn("__is_marker", F.lit(1)).withColumn("__mts", F.col(ts))
    cols = [c for c in tagged_e.columns]
    unioned = tagged_e.unionByName(
        tagged_m.select(
            *[
                F.col(c) if c in (key, ts, "__is_marker", "__mts") else F.lit(None).alias(c)
                for c in cols
            ]
        ),
        allowMissingColumns=False,
    )
    # At equal ts the marker must precede the event (inclusive join) →
    # descending __is_marker within the ts tie.
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("__is_marker").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = unioned.withColumn(marker_ts_out, F.last("__mts", ignorenulls=True).over(w))
    return out.where(F.col("__is_marker") == 0).drop("__is_marker", "__mts")


def range_join(
    events: DataFrame,
    intervals: DataFrame,
    *,
    key: str,
    ts: str,
    start: str = "start_ts",
    end: str = "end_ts",
    bucket_seconds: int = 3600,
    max_explode_rows: int = RANGE_EXPLODE_MAX_ROWS,
) -> DataFrame:
    """Interval-containment join: every (interval, event) pair of the same
    ``key`` with ``start <= event.ts < end``, as a bucketed equi-join.

    Intervals explode to the ``bucket_seconds``-wide epoch buckets they
    overlap; events compute their single bucket; the join is equi on
    (key, bucket) with the exact containment predicate as a residual
    filter. Each qualifying pair meets exactly once (the event's bucket),
    so no post-join dedup is needed. Pick ``bucket_seconds`` near the
    typical interval length: expansion is len/bucket + 1 rows per
    interval, and residual selectivity stays high.

    Planned-explode refusal (round 13; hardened round 14): the
    expansion term is data-dependent — one corrupt open-ended interval
    (a ``9999-12-31`` sentinel ``end_ts``) plans ~70M rows from ONE row
    at the default bucket, invisible to input-byte estimates. The probe
    is one column-pruned (start, end) aggregate computing the EXACT
    planned exploded-row count Σ(|floor(end/bs) − floor(start/bs)| + 1)
    — the ABSOLUTE bucket span, because ``sequence(a, b)`` steps −1
    when a > b, so a corrupt end < start interval (epoch-0 end with a
    2024 start) still emits |diff|+1 rows; a signed sum would
    under-count it AND let its negative term cancel genuine explosion
    elsewhere (round-14 fix, per driver advice). Refusal names the
    knobs before any explode task launches. The ``RANGE_PROBE_BYTES``
    floor skips the probe only for small inputs on the DEFAULT budget
    (probe cost would dominate at toy scale — a cost trade-off, not a
    bound); callers passing an explicit ``max_explode_rows`` always get
    the probe.
    """
    i_start = F.unix_timestamp(F.col(start))
    i_end = F.unix_timestamp(F.col(end))
    if (
        max_explode_rows != RANGE_EXPLODE_MAX_ROWS
        or _estimated_bytes(intervals) > RANGE_PROBE_BYTES
    ):
        planned = (
            intervals.agg(
                F.sum(
                    (
                        F.abs(
                            F.floor(i_end / bucket_seconds)
                            - F.floor(i_start / bucket_seconds)
                        )
                        + 1
                    ).cast("double")
                ).alias("__planned")
            ).collect()[0]["__planned"]
        )
        if planned is not None and planned > max_explode_rows:
            raise ValueError(
                f"range_join planned interval explosion {planned:.2e} rows "
                f"exceeds max_explode_rows={max_explode_rows:.0e} at "
                f"bucket_seconds={bucket_seconds}: the interval table "
                f"contains intervals spanning far more buckets than the "
                f"join can afford (often a corrupt open-ended sentinel "
                f"end_ts, e.g. 9999-12-31). Raise bucket_seconds toward "
                f"the typical interval length, filter sentinel/corrupt "
                f"intervals first, or raise max_explode_rows after sizing "
                f"real shuffle capacity."
            )
    ibkts = F.sequence(
        F.floor(i_start / bucket_seconds), F.floor(i_end / bucket_seconds)
    )
    iv = intervals.select(
        F.col(key).alias("__ik"),
        F.col(start),
        F.col(end),
        *[c for c in intervals.columns if c not in (key, start, end)],
        F.explode(ibkts).alias("__bkt"),
    )
    ev = events.withColumn(
        "__bkt", F.floor(F.unix_timestamp(F.col(ts)) / bucket_seconds)
    )
    joined = ev.join(
        iv,
        (ev[key] == iv["__ik"])
        & (ev["__bkt"] == iv["__bkt"])
        & (F.col(ts) >= F.col(start))
        & (F.col(ts) < F.col(end)),
    )
    return joined.drop("__bkt", "__ik")


def gap_fill(
    df: DataFrame,
    *,
    key: str,
    ts: str,
    value_agg: Column,
    bucket: str = "hour",
    bucket_interval: str = "INTERVAL 1 HOUR",
    max_spine_rows: int = GAP_SPINE_MAX_ROWS,
) -> DataFrame:
    """Regular time-series resample with last-observation-carried-forward.

    Aggregates ``value_agg`` per (key, date_trunc bucket), builds the
    complete bucket spine per key from its min/max bucket, left-joins the
    aggregate onto the spine, and fills empty buckets with the latest
    preceding value (NULL before the first observation). ``filled`` is the
    LOCF column; ``n`` is 0 on synthesized buckets.

    Planned-spine refusal (round 13): the per-key ``sequence(min, max)``
    spine is data-dependent — ONE corrupt epoch-0 timestamp in a key
    plans a ~490k-row spine for that key at hourly buckets, invisible to
    input-byte estimates. Inputs past ``GAP_PROBE_BYTES`` pay one
    column-pruned (key, ts) grouped aggregate computing the EXACT
    planned spine-row count Σ_key(floor((max−min)/interval) + 1) and
    refuse above ``max_spine_rows`` naming the knobs, before any spine
    task launches. The ``GAP_PROBE_BYTES`` floor skips the probe only
    for small inputs on the DEFAULT budget (a probe-cost trade-off, not
    a bound — per-key span is the data-dependent term); callers passing
    an explicit ``max_spine_rows`` always get the probe (round 14).
    The interval length in seconds is resolved from
    ``bucket_interval`` via a constant-folded anchor expression; for
    calendar intervals (MONTH/YEAR) the anchor 1999-02-01 makes the
    divisor the SHORTEST instance (28-day month), so the planned count
    is an over-estimate — the gate never under-counts.
    """
    b = F.date_trunc(bucket, F.col(ts))
    if (
        max_spine_rows != GAP_SPINE_MAX_ROWS
        or _estimated_bytes(df) > GAP_PROBE_BYTES
    ):
        anchor = "timestamp'1999-02-01 00:00:00'"
        ival_s = F.expr(
            f"unix_timestamp({anchor} + {bucket_interval})"
            f" - unix_timestamp({anchor})"
        )
        planned = (
            df.groupBy(key)
            .agg(
                F.min(F.unix_timestamp(b)).alias("__mn"),
                F.max(F.unix_timestamp(b)).alias("__mx"),
            )
            .agg(
                F.sum(
                    (
                        F.floor((F.col("__mx") - F.col("__mn")) / ival_s)
                        + 1
                    ).cast("double")
                ).alias("__planned")
            )
            .collect()[0]["__planned"]
        )
        if planned is not None and planned > max_spine_rows:
            raise ValueError(
                f"gap_fill planned spine {planned:.2e} rows exceeds "
                f"max_spine_rows={max_spine_rows:.0e} at "
                f"bucket_interval='{bucket_interval}': some key's "
                f"[min, max] timestamp span covers far more buckets than "
                f"the spine can afford (often a corrupt epoch-0 or "
                f"far-future sentinel timestamp). Use a coarser bucket/"
                f"bucket_interval, filter corrupt timestamps first, or "
                f"raise max_spine_rows after sizing real capacity."
            )
    agg = df.groupBy(F.col(key), b.alias("bucket")).agg(
        value_agg.alias("v"), F.count(F.lit(1)).alias("n")
    )
    # Bounds roll up from the bucket aggregate (every observed bucket is
    # in `agg`, so min/max agree). Column pruning keeps the two branches'
    # agg subtrees different (this one drops v/n), so ReuseExchange does
    # not fire and the input is read twice — but the second scan is pruned
    # to (key, ts) only. To strictly single-scan at 100 TB, materialize
    # the bucket aggregate (checkpoint/table) between the two consumers.
    bounds = agg.groupBy(key).agg(
        F.min("bucket").alias("__mn"), F.max("bucket").alias("__mx")
    )
    spine = bounds.select(
        key,
        F.explode(
            F.sequence(F.col("__mn"), F.col("__mx"), F.expr(bucket_interval))
        ).alias("bucket"),
    )
    w = (
        Window.partitionBy(key)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(agg, [key, "bucket"], "left")
        .select(
            key,
            "bucket",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.last("v", ignorenulls=True).over(w).alias("filled"),
        )
    )


def sessionize(
    events: DataFrame,
    *,
    key: str,
    ts: str,
    gap_seconds: int = 1800,
    session_out: str = "session_id",
    tiebreak: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the previous event of the same key exceeds ``gap_seconds``. Session ids
    are 1-based per key (cumulative sum of session starts)."""
    order = [F.col(ts).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    prev = F.lag(F.col(ts)).over(w)
    is_new = F.when(
        prev.isNull()
        | ((F.unix_timestamp(F.col(ts)) - F.unix_timestamp(prev)) > gap_seconds),
        1,
    ).otherwise(0)
    running = Window.partitionBy(key).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return events.withColumn(
        session_out, F.sum(is_new).over(running).cast("bigint")
    )


def event_debounce(
    events: DataFrame,
    *,
    key: str = "user_id",
    type_col: str = "event_type",
    ts: str = "ts",
    id_col: str = "event_id",
    window_s: int = 600,
) -> DataFrame:
    """Rapid-fire suppression: keep only events whose previous event of the
    SAME (key, type) is more than ``window_s`` seconds in the past (burst
    leaders — equivalently, the first event of every gap-``window_s``
    session, so double-fired trackers and retry storms collapse to one
    row). Returns the kept rows with their gap to the suppressed-or-not
    predecessor in exact integer microseconds (NULL for a key's first
    event).

    Scale shape: one hash exchange on (key, type) + a lag window whose
    partitions are per-user-per-type — never corpus-bounded. Gap math is
    ``unix_micros`` BIGINT subtraction (no float time arithmetic), so the
    oracle replays exactly; ties on ts break by event id for a total
    deterministic order.
    """
    w = Window.partitionBy(key, type_col).orderBy(
        F.col(ts).asc(), F.col(id_col).asc()
    )
    # timestampdiff, not unix_micros: events.ts loads as TIMESTAMP_NTZ and
    # a same-type difference is timezone-free by construction (no cast
    # through the session zone, so a hostile-tz driver session cannot
    # shift the gap).
    kept = (
        events.withColumn("__prev", F.lag(F.col(ts)).over(w))
        .withColumn(
            "gap_us", F.expr(f"timestampdiff(MICROSECOND, __prev, {ts})")
        )
        .where(
            F.col("gap_us").isNull()
            | (F.col("gap_us") > F.lit(int(window_s) * 1_000_000))
        )
    )
    return kept.select(id_col, key, type_col, "gap_us")


def funnel_conversion(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    *,
    key: str = "user_id",
    type_col: str = "event_type",
    ts: str = "ts",
) -> DataFrame:
    """Ordered funnel conversion: a user reaches step k when a step-k
    event occurs AT OR AFTER their step-(k−1) reach time (inclusive —
    ties count, deterministically on both engines). Returns one row per
    step: (step_idx, step, n_users, conversion) with conversion =
    n_step / n_prev (step 1 ≡ 1.0), floor-quantized — the product
    funnel every telemetry stack reports.

    Scale shape: per-step user-grain MIN aggregates chained by an
    equi-join on the user key (user-grain tables, broadcastable long
    before the event table matters); counts are 1-row aggregates
    cross-joined at the end. No windows over the raw stream, no
    event-grain shuffle beyond the first per-step aggregate.
    """
    from .aggregates import quantize

    reach = None
    counts = []
    for i, step in enumerate(steps):
        ev = events.where(F.col(type_col) == step)
        if reach is None:
            reach = ev.groupBy(key).agg(F.min(ts).alias("__t"))
        else:
            reach = (
                ev.join(reach.select(key, "__t"), key)
                .where(F.col(ts) >= F.col("__t"))
                .groupBy(key)
                .agg(F.min(ts).alias("__t"))
            )
        counts.append(
            reach.agg(F.count(F.lit(1)).alias(f"n{i}"))
        )
    wide = counts[0]
    for c in counts[1:]:
        wide = wide.crossJoin(F.broadcast(c))
    rows = []
    for i, step in enumerate(steps):
        conv = (
            F.lit(1.0)
            if i == 0
            else F.col(f"n{i}").cast("double")
            / F.col(f"n{i-1}").cast("double")
        )
        rows.append(
            wide.select(
                F.lit(i + 1).alias("step_idx"),
                F.lit(step).alias("step"),
                F.col(f"n{i}").alias("n_users"),
                quantize(conv, 6).alias("conversion"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def cohort_retention(
    events: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: cohort = the epoch week of a user's first
    event; a user is retained at offset k if they have any event in
    cohort_week + k. Returns (cohort_week, week_offset, n_users) — the
    retention triangle behind every cohort chart.

    Week index is exact integer arithmetic (seconds since epoch / 604800,
    floored in double — exact below 2^53), so both engines bucket
    identically; tz-free on TIMESTAMP_NTZ. Scale shape: one event-grain
    projection to (user, week) + distinct, a user-grain MIN for the
    cohort, a broadcastable user-grain join back, and a (cohort, offset)
    rollup whose output is calendar-bounded, never corpus-bounded.
    """
    wk = F.floor(
        F.expr(
            f"timestampdiff(SECOND, timestamp'1970-01-01 00:00:00', {ts})"
        ).cast("double")
        / F.lit(604800.0)
    ).cast("bigint")
    uw = events.select(F.col(key), wk.alias("__wk")).distinct()
    first = uw.groupBy(key).agg(F.min("__wk").alias("__cw"))
    return (
        uw.join(first, key)
        .groupBy(
            F.col("__cw").alias("cohort_week"),
            (F.col("__wk") - F.col("__cw")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def rolling_agg(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    window_s: int = 3600,
) -> DataFrame:
    """Trailing time-RANGE rolling aggregate per key — the moving-average
    shape (each event annotated with the count/sum/avg of the same key's
    events in the preceding ``window_s`` seconds, inclusive of itself).
    Distinct from the tumbling ``time_bucket_agg`` (fixed buckets) and
    the cumulative ``running_total`` (unbounded frame): the frame here
    SLIDES with every row.

    Engine-exact arithmetic: the frame is a ``rangeBetween`` over exact
    integer microseconds (never a row frame — ties in ``ts`` must all
    enter the frame together for the result to be partitioning- and
    sort-stable), the windowed sum runs over DECIMAL(18,2) casts (exact,
    order-independent — a double sliding sum accumulates differently
    than a recomputed one), and the average divides the exact pair and
    floor-quantizes. The sum is EMITTED as a quantized DOUBLE (the
    decimal exactness stays internal): a DECIMAL output column
    canonicalizes differently across clients (pandas keeps
    ``Decimal("10.00")``, DuckDB's ``.df()`` downcasts to float64
    ``10.0``), so a decimal on the wire breaks any string/hash compare
    on trailing zeros even when every value is identical.

    Scale shape: ONE hash exchange on the key; each key's partition
    sorts locally for the range frame. Skewed keys serialize per key —
    the same caveat every per-key ordered operator here carries
    (sessionize, running_total); salt hot keys upstream if one key is a
    material fraction of the corpus.
    """
    from .aggregates import quantize

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(key)
        .orderBy(us)
        .rangeBetween(-window_s * 1_000_000, 0)
    )
    dec = F.col(val_col).cast("decimal(18,2)")
    n = F.count(F.lit(1)).over(w)
    s = F.sum(dec).over(w)
    return df.select(
        "event_id",
        key,
        F.col(ts_col),
        F.col(val_col),
        n.cast("bigint").alias("n_window"),
        quantize(s.cast("double"), 2).alias("sum_window"),
        quantize(
            s.cast("double") / n.cast("double"), 6
        ).alias("avg_window"),
    )

"""Round-14: take the 128-bit MIH miner through the decades the 64-bit
family already owns (VERDICT round-13 item 3). The r13 claim — the
4×32-band collision term is sub-dominant to ~4e10 docs — was ARITHMETIC;
the 64-bit family's history (occupancy² OOM at 500k, the sixth-decade
10.7× step) shows where arithmetic needs a measurement.

Protocol (the repo's measurement discipline): ONE process, interleaved
10M → 30M → 10M; wall = full pair mine (`dedup.mih_pairs` over the
four lanes decoded from the pre-built SWAR frame) materialized through
a count. The planted corpora come from
``gen_fingerprints.py <n> <dir> 0.02 128``. Alongside wall, the
PLANNED within-bucket triangle term is computed the same way the
round-14 concentration probe computes it (exact, server-side aggregate)
and the selected sub-bit geometry s is reported from the sizing rule —
the two numbers SCALING.md tracks against wall.

Usage: python tools/mih128_decades.py [dir10m] [dir30m]
       python tools/mih128_decades.py check <dir> [n]
The check mode mines the first n rows (default 50k) of ``<dir>`` and
asserts the pair set equals a NumPy brute force over the same 128-bit
signatures; it prints one JSON line.
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from data_lakehouse_hygiene_spark.operators import dedup  # noqa: E402
from data_lakehouse_hygiene_spark.session import get_spark  # noqa: E402


def planned_triangles(sigs_df) -> float:
    """Exact Σ_buckets c(c−1)/2 across the four 32-bit bands — the
    round-14 probe's term, recomputed here for the report."""
    vals = F.explode(
        F.array(
            *[
                F.struct(F.lit(k).alias("band"), F.col(f"sh_{k}").alias("v"))
                for k in range(4)
            ]
        )
    ).alias("bk")
    rows = (
        sigs_df.select(vals)
        .select(F.col("bk.band").alias("band"), F.col("bk.v").alias("v"))
        .groupBy("band", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .agg(
            F.sum(
                F.col("c").cast("double") * (F.col("c") - 1).cast("double") / 2.0
            ).alias("tri")
        )
        .collect()
    )
    return float(rows[0]["tri"] or 0.0)


def selected_s(n: int) -> int:
    s = 4
    while s < 16 and n * (2 + s) * 4 > 1_000_000 * 4 * (1 << s):
        s += 1
    return s


LANES = ("sh_0", "sh_1", "sh_2", "sh_3")


def mine(agg, n: int):
    return dedup.mih_pairs(dedup._swar_lanes(agg, LANES), 4, 7, n_docs=n)


def run(spark, path: str, n: int) -> tuple[int, float]:
    agg = spark.read.parquet(f"{path}/simhash128_agg.parquet")
    t0 = time.monotonic()
    pairs = mine(agg, n).count()
    return pairs, time.monotonic() - t0


def check(spark, path: str, n: int) -> None:
    import json

    import numpy as np

    agg = spark.read.parquet(f"{path}/simhash128_agg.parquet").where(
        f"doc_id < {n}"
    )
    got = {tuple(r) for r in mine(agg, n).collect()}
    pdf = dedup._swar_lanes(agg, LANES).toPandas().sort_values("doc_id")
    ids = pdf["doc_id"].to_numpy()
    lanes = [pdf[c].to_numpy().astype(np.uint64) for c in LANES]
    words = [
        lanes[0] | (lanes[1] << np.uint64(32)),
        lanes[2] | (lanes[3] << np.uint64(32)),
    ]
    want = set()
    for i in range(0, len(ids), 256):
        ham = sum(
            dedup._np_pop64(x[i : i + 256, None] ^ x[None, :]) for x in words
        ).astype(np.int64)
        rr, cc = np.nonzero(ham <= 7)
        for a, b, h in zip(ids[i + rr], ids[cc], ham[rr, cc]):
            if a < b:
                want.add((int(a), int(b), int(h)))
    assert got == want, f"brute force mismatch: {len(got)} vs {len(want)}"
    print(
        json.dumps(
            {
                "mode": "check",
                "rows": n,
                "pairs": len(got),
                "brute_force_equal": True,
            }
        )
    )


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "check":
        n = int(sys.argv[3]) if len(sys.argv) > 3 else 50_000
        spark = get_spark(app_name="mih128_check")
        spark.sparkContext.setLogLevel("ERROR")
        check(spark, sys.argv[2], n)
        return
    d10 = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/mih128_10m"
    d30 = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/.scale/mih128_30m"
    spark = get_spark(app_name="mih128_decades")
    spark.sparkContext.setLogLevel("ERROR")

    for path, n in ((d10, 10_000_000), (d30, 30_000_000)):
        agg = spark.read.parquet(f"{path}/simhash128_agg.parquet")
        tri = planned_triangles(dedup._swar_lanes(agg, LANES))
        print(
            f"{path}: n={n} s={selected_s(n)} "
            f"planned within-bucket triangles = {tri:.3e}"
        )

    # warmup no-op job
    spark.range(1_000_000).agg(F.sum("id")).collect()
    for path, n in ((d10, 10_000_000), (d30, 30_000_000), (d10, 10_000_000)):
        pairs, wall = run(spark, path, n)
        print(f"{path}: n={n} pairs={pairs} wall={wall:.1f}s", flush=True)


if __name__ == "__main__":
    main()

"""Decade measurement of the fused structured-media fingerprint path
(round-15 / round-14 verdict stretch item 8): fused structured_phash vs
the chained synthesize→phash operators at 6k/60k/600k assets, plus the
full media_near_dup pipeline wall per decade, interleaved in one process
(``ab.interleave``) and judged by medians.

Usage: python tools/media_decades.py [reps]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ab import interleave, noop  # noqa: E402
from data_lakehouse_hygiene_spark.operators import multimodal as M  # noqa: E402
from data_lakehouse_hygiene_spark.session import get_spark  # noqa: E402


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark(app_name="media_decades")
    spark.sparkContext.setLogLevel("ERROR")

    def docs(n: int):
        return spark.range(0, n).select(F.col("id").alias("doc_id"))

    def fused(n: int):
        return M.structured_phash(docs(n))

    def chained(n: int):
        return M.media_phash(M.synthesize_structured_media(docs(n)))

    def pipeline(n: int):
        base = M.structured_phash(docs(n))
        variants = M.structured_phash(
            docs(n).where(F.col("doc_id") % 10 < 2),
            transform=(2, 4),
            id_offset=1_000_000_000,
        )
        fp = base.unionByName(variants)
        return M.media_near_dup(
            fp, max_hamming=7, n_assets=int(n * 1.2)
        )

    sizes = [6_000, 60_000, 600_000]
    arms = {"fused_fp": fused, "chained_fp": chained, "pipeline": pipeline}
    for n in sizes:
        res = interleave(
            {a: lambda fn=fn: noop(fn(n)) for a, fn in arms.items()}, reps
        )
        line = " ".join(f"{a}={res[a]['median']:.2f}s" for a in arms)
        print(f"n={n}: {line}")


if __name__ == "__main__":
    main()

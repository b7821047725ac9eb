"""Interleaved in-process A/B for the media_near_dup small-corpus arm at
sf0.1 (round-11 VERDICT item 5): the registry row passes
n_assets ≈ 6000 ≤ MEDIA_MIH_MIN_ASSETS (20k), so it must take the
no-Python banded-expression arm; the docstring predicts ~3.0 → ~1.5 s
but the driver benches read 2.0-2.1 s, within ambient swing. Judge by
interleaved medians in ONE process (``ab.interleave``).

Arms share the SAME fingerprint DataFrame (localCheckpointed so the
phash pipeline cost is paid once and excluded — the A/B isolates the
pair stage the gate switches):
  small: n_assets=6000  -> small-corpus banded arm (no Python)
  mih:   n_assets=None  -> MIH Arrow-kernel arm
Prints the interleave result (times, medians, IQRs, value hashes) as one
JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from ab import interleave  # noqa: E402
from data_lakehouse_hygiene_spark.operators import multimodal  # noqa: E402
from data_lakehouse_hygiene_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PASSES = int(os.environ.get("AB_PASSES", "6"))


def main() -> None:
    spark = get_spark(app_name="ab-media-arm")
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = multimodal.synthesize_structured_media(docs)
    planted = multimodal.synthesize_structured_media(
        docs.where(F.col("doc_id") % 10 < 2)
    ).withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000_000))
    variants = multimodal.transform_media(planted, scale_div=2, sample_every=4)
    fp = multimodal.media_phash(base.unionByName(variants)).localCheckpoint()
    n_assets = fp.count()
    assert n_assets <= multimodal.MEDIA_MIH_MIN_ASSETS, n_assets

    # the registry row must actually take the gated arm: its pair stage
    # at sf0.1 has no applyInPandas kernel (the fingerprint mapInPandas
    # stays)
    reg = entry.q_media_near_dup(spark, SF)
    reg_plan = reg._jdf.queryExecution().executedPlan().toString()
    gated = "FlatMapGroupsInPandas" not in reg_plan
    res = interleave(
        {
            "small": lambda: multimodal.media_near_dup(fp, 7, n_assets),
            "mih": lambda: multimodal.media_near_dup(fp, 7, None),
        },
        PASSES,
    )
    print(
        json.dumps(
            {
                "sf_dir": SF,
                "n_assets": n_assets,
                "registry_row_takes_small_arm": gated,
                **res,
            }
        )
    )


if __name__ == "__main__":
    main()

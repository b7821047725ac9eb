"""Interleaved in-process A/B for the lsh_near_dup pair stage at a
synthesized 200k-vector corpus (round-13 VERDICT items 3 + 7): the
round-12 sf100 readings (join 918.2 s vs kernel 705.4 s) were
cross-session SINGLES on a box documented to swing 2.5x — judge the
kernel-vs-join delta by interleaved medians in ONE process instead
(``ab.interleave``), and give the kernel arm a RECALL spec at auto
planes, not just a throughput one.

Corpus: 200k random 64-d vectors + 10k planted near-dups (base + small
noise, ids offset by 1e9). Ground truth = planted pairs whose float64
cosine clears the threshold with margin (random 64-d pairs essentially
never reach 0.85, so planted pairs are the true pair set).

Arms share the SAME parquet-backed corpus; the gate constant
LSH_KERNEL_BYTES is set per call:
  join:   LSH_KERNEL_BYTES = 1<<60  -> expression-join plan
  kernel: LSH_KERNEL_BYTES = 0      -> bucket-grouped Arrow kernel

Prints one JSON line: per-pass times, medians, IQRs, pair-set value
hashes (equal iff the arms return the same pairs), and recall@threshold
for n_planes in {8, 15, auto}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from ab import interleave  # noqa: E402
from data_lakehouse_hygiene_spark.operators import similarity  # noqa: E402
from data_lakehouse_hygiene_spark.session import get_spark  # noqa: E402

N_BASE = int(os.environ.get("AB_LSH_N", "200000"))
N_PLANT = int(os.environ.get("AB_LSH_PLANT", "10000"))
DIM = 64
THRESHOLD = float(os.environ.get("AB_LSH_T", "0.85"))
NOISE = 0.18  # ~0.985 expected cosine to the base vector
PASSES = int(os.environ.get("AB_PASSES", "6"))
OUT = os.environ.get("AB_LSH_OUT", "/tmp/ab_lsh_corpus.parquet")


def main() -> None:
    spark = get_spark(app_name="ab-lsh-kernel")
    rng = np.random.default_rng(1303)
    base = rng.normal(size=(N_BASE, DIM))
    noise = rng.normal(scale=NOISE, size=(N_PLANT, DIM))
    plant = base[:N_PLANT] + noise

    def cos(a, b):
        return (a * b).sum(axis=1) / (
            np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        )

    pc = cos(base[:N_PLANT], plant)
    # ground truth: planted pairs clearly over the threshold (margin
    # excludes quantization-borderline pairs from the recall denominator)
    truth = {
        (i, 1_000_000_000 + i)
        for i in range(N_PLANT)
        if pc[i] >= THRESHOLD + 1e-4
    }

    if not os.path.exists(OUT):
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "vec_id": np.concatenate(
                    [
                        np.arange(N_BASE, dtype=np.int64),
                        1_000_000_000 + np.arange(N_PLANT, dtype=np.int64),
                    ]
                ),
                "embedding": [
                    r.astype(np.float32) for r in np.vstack([base, plant])
                ],
            }
        )
        spark.createDataFrame(pdf).repartition(32).write.mode(
            "overwrite"
        ).parquet(OUT)
    df = spark.read.parquet(OUT)

    auto_planes = similarity.resolve_planes(df, "auto")

    def pairs(arm: str, planes: int):
        similarity.LSH_KERNEL_BYTES = (1 << 60) if arm == "join" else 0
        return similarity.lsh_near_dup_pairs(
            df, threshold=THRESHOLD, n_planes=planes
        ).select("vec_a", "vec_b")

    # ---- interleaved A/B at auto planes (the sf100 protocol scale-down);
    # the value hashes also check pair-set equality at this scale
    ab = interleave(
        {
            "join": lambda: pairs("join", auto_planes),
            "kernel": lambda: pairs("kernel", auto_planes),
        },
        PASSES,
    )

    # ---- recall table (kernel arm; join arm is pair-set-identical;
    # untimed: single walls are noise, the A/B above times the arms)
    recall = {}
    for label, planes in (("8", 8), ("15", 15), ("auto", auto_planes)):
        found = {(r.vec_a, r.vec_b) for r in pairs("kernel", planes).collect()}
        recall[label] = {
            "planes": planes,
            "pairs": len(found),
            "recall": round(len(truth & found) / max(len(truth), 1), 4),
        }

    print(
        json.dumps(
            {
                "n_vectors": N_BASE + N_PLANT,
                "dim": DIM,
                "threshold": THRESHOLD,
                "truth_pairs": len(truth),
                "auto_planes": auto_planes,
                **ab,
                "recall": recall,
            }
        )
    )


if __name__ == "__main__":
    main()

"""Round-14 stretch (VERDICT r13 item 7): IVF-PQ at a measured decade —
2M × 64-dim embeddings, auto-fit codebooks, n_probe sweep 1/4/16, with
recall@5 against the brute-force cosine top-5 ground truth (the
ann_recall convention) — the quality-vs-wall spec lsh_near_dup got in
round 13 (TUNING.md:413), applied to the retrieval stack.

Data: ``tools/gen_scale.py 1000 /root/repo/.scale/sf100 embeddings``
(per-replica rotation keeps within-replica cosine structure exact,
cross-replica decorrelated). Coarse cells: ``kmeans_fit_assign`` k=256,
n_iter=2 — real geometric cells (hash cells would make recall@n_probe
trivially n_probe/256).

Protocol: ONE process; ground truth and the k-means fit once; then the
n_probe arms interleaved by ``ab.interleave`` (two rounds), wall = full
ivfpq_ann materialization via collect; recall from one more collect.

Usage: python tools/ivfpq_decade.py [emb_dir] [n_queries]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ab import interleave  # noqa: E402
from data_lakehouse_hygiene_spark.operators import similarity  # noqa: E402
from data_lakehouse_hygiene_spark.session import get_spark  # noqa: E402


def main() -> None:
    emb_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf100"
    n_q = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    spark = get_spark(app_name="ivfpq_decade")
    spark.sparkContext.setLogLevel("ERROR")
    # the corpus ships a replicated 10-value `label` column (the oracle
    # replay knob the registry rows pin — wrong at 2M vectors by design,
    # see SCALING.md round-12); the decade measurement uses REAL k-means
    # cells instead, so drop it before attaching the fit's assignment
    emb = spark.read.parquet(f"{emb_dir}/embeddings.parquet").drop("label")
    n = emb.count()
    print(f"corpus: {n} vectors", flush=True)
    qpred = F.col("vec_id") < n_q

    t0 = time.monotonic()
    assign = similarity.kmeans_fit_assign(emb, k=256, n_iter=2).select(
        "vec_id", F.col("cluster").alias("label")
    )
    labeled = emb.join(assign, "vec_id")
    labeled.write.mode("overwrite").parquet("/tmp/ivfpq_labeled.parquet")
    print(f"kmeans k=256 n_iter=2 fit+assign+persist: "
          f"{time.monotonic() - t0:.1f}s", flush=True)
    labeled = spark.read.parquet("/tmp/ivfpq_labeled.parquet")

    t0 = time.monotonic()
    truth = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk(
            emb, query_pred=qpred, k=5
        ).collect()
    }
    print(f"brute-force cosine top-5 ground truth ({n_q} queries): "
          f"{time.monotonic() - t0:.1f}s, {len(truth)} pairs", flush=True)

    def ann(n_probe: int):
        return similarity.ivfpq_ann(
            labeled, query_pred=qpred, k=5, n_probe=n_probe
        )

    probes = (1, 4, 16)
    res = interleave({p: lambda p=p: ann(p) for p in probes}, 2)
    print("--- median wall of 2 rounds; fit excluded, ADC fit runs inside "
          "each arm ---")
    for p in probes:
        hits = {(r["query_id"], r["vec_id"]) for r in ann(p).collect()}
        print(
            f"n_probe={p}: wall={res[p]['median']:.1f}s rows={len(hits)} "
            f"recall@5={len(hits & truth) / max(len(truth), 1):.3f}"
        )


if __name__ == "__main__":
    main()

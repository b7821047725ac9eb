"""Fifth-decade MIH pair-stage measurement (SCALING.md geometry
contract): run the MIH pair miner ``dedup.mih_pairs`` SOLO through
its media and text adapters over the 10M-fingerprint corpus from
``tools/gen_fingerprints.py`` and record wall time plus the sub-bit
geometry it selects (the claim under test: past ~10M assets the
s-growth loop leaves the s = 4 floor).

Modes:
  python tools/mih_fifth_decade.py check [n]   cross-adapter equality at
      n rows (default 50k): media_near_dup (lanes split from phash) and
      the text adapter (lanes decoded from the SWAR aggregate) feed the
      SAME planted signatures to the one miner, so their pair sets must
      be identical — an end-to-end check of both input paths, plus
      brute-force NumPy verification of the pair set.
  python tools/mih_fifth_decade.py media|text [rows]   timed solo run
      (default: all 10M rows), one warm pass measured after a session
      warmup no-op; prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("MIH_SRC", "/root/repo/.scale/mih10m")


def expected_s(n: int, width: int, n_bands: int) -> int:
    s = min(4, width - 1)
    while s < min(width - 1, 16) and n * (2 + s) * n_bands > 1_000_000 * n_bands * (
        1 << s
    ):
        s += 1
    return s


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "check"
    n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else (
        50_000 if mode == "check" else 0
    )

    from data_lakehouse_hygiene_spark.session import get_spark
    from data_lakehouse_hygiene_spark.operators import dedup, multimodal

    spark = get_spark(
        app_name=f"mih5-{mode}", master="local[32]", shuffle_partitions=32
    )
    fp = spark.read.parquet(f"{SRC}/media_fp.parquet")
    agg = spark.read.parquet(f"{SRC}/simhash_agg.parquet")
    if n_rows:
        fp = fp.where(f"doc_id < {n_rows}")
        agg = agg.where(f"doc_id < {n_rows}")
    n = n_rows or fp.count()

    if mode == "check":
        media = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in multimodal.media_near_dup(
                fp, max_hamming=7, n_assets=n
            ).collect()
        }
        text = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in dedup.mih_pairs(
                dedup._swar_lanes(agg, ("sh_lo", "sh_hi")),
                4,
                max_hamming=7,
                n_docs=n,
            ).collect()
        }
        assert media == text, (
            f"adapter pair sets differ: {len(media)} vs {len(text)}; "
            f"only-media={list(media - text)[:5]} "
            f"only-text={list(text - media)[:5]}"
        )
        # brute force over the same planted signatures
        import numpy as np

        pdf = fp.select("doc_id", "phash").toPandas()
        sigs = pdf["phash"].to_numpy().astype(np.uint64)
        ids = pdf["doc_id"].to_numpy()
        order = np.argsort(ids)
        sigs, ids = sigs[order], ids[order]
        from data_lakehouse_hygiene_spark.operators.dedup import _np_pop64

        want = set()
        for i in range(0, len(sigs), 256):
            ham = _np_pop64(sigs[i : i + 256, None] ^ sigs[None, :]).astype(
                np.int64
            )
            rr, cc = np.nonzero(ham <= 7)
            for a, b, h in zip(ids[i + rr], ids[cc], ham[rr, cc]):
                if a < b:
                    want.add((int(a), int(b), int(h)))
        assert media == want, (
            f"brute force mismatch: {len(media)} vs {len(want)}"
        )
        print(
            json.dumps(
                {
                    "mode": "check",
                    "rows": n,
                    "pairs": len(media),
                    "adapters_equal": True,
                    "brute_force_equal": True,
                }
            )
        )
        return

    # timed solo run; session warmup first so JVM/codegen startup is
    # not attributed to the operator (bench.py protocol)
    spark.sql("select count(*) from range(1000000)").collect()
    t0 = time.time()
    if mode == "media":
        out = multimodal.media_near_dup(fp, max_hamming=7, n_assets=n)
    else:
        out = dedup.mih_pairs(
            dedup._swar_lanes(agg, ("sh_lo", "sh_hi")),
            4,
            max_hamming=7,
            n_docs=n,
        )
    n_pairs = out.count()
    dt = time.time() - t0
    # OBSERVE the selected sub-bit geometry from the analyzed plan (not
    # a replica of the sizing loop): the key-emit array holds
    # n_bands·(1+s) band structs — 1 exact + s set-bit variants each.
    import re

    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    plan = out._jdf.queryExecution().analyzed().toString()
    n_structs = len(re.findall(r"struct\(band", plan)) or len(
        re.findall(r"AS band\b", plan)
    )
    s_obs = n_structs // 4 - 1 if n_structs else None
    print(
        json.dumps(
            {
                "mode": mode,
                "rows": n,
                "pairs": int(n_pairs),
                "sec": round(dt, 2),
                "s_selected_plan": s_obs,
                "s_expected": expected_s(n, 16, 4),
                "s_floor": 4,
            }
        )
    )


if __name__ == "__main__":
    main()

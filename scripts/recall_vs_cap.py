#!/usr/bin/env python
"""Recall-vs-budget sweep for the capped detector twins (round-10 verdict
ask #2): for each per-key occupancy cap, run the capped PassJoin and the
capped media pigeonhole detector at the bench SF and record pair count,
recall vs the exact detector (the capped output is a SUBSET — same exact
verify, fewer candidate keys — so recall = |capped| / |exact|), and wall
time. Writes one JSON artifact RECALL_VS_CAP.json at the repo root.

Usage: python scripts/recall_vs_cap.py  [env: SPARK_GRAFT_SF_DIR, _CPUS]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CAPS = [8, 16, 32, 64, 128, 256, 1024]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from komodo_data_spark.session import default_cores, get_spark

    cpus = default_cores()

    spark = get_spark(
        app_name="recall-vs-cap",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    from komodo_data_spark.operators.dedup import (
        dedup_fuzzy_prefix,
        dedup_fuzzy_prefix_capped,
        simhash_pairs,
        simhash_sig,
    )
    from komodo_data_spark.operators.multimodal_ops import (
        MEDIA_HAMMING_MAX,
        MEDIA_SIMHASH_BITS,
        media_gram_postings,
        media_simhash_pairs,
    )
    from komodo_data_spark.sources.tables import load_table

    out: dict = {"sf_dir": sf_dir, "caps": CAPS, "detectors": {}}

    # ---- fuzzy PassJoin ----
    n_exact = dedup_fuzzy_prefix(spark, sf_dir).count()
    rows = []
    for cap in CAPS:
        t0 = time.time()
        n = dedup_fuzzy_prefix_capped(spark, sf_dir, key_cap=cap).count()
        rows.append(
            {
                "cap": cap,
                "n_pairs": n,
                "recall_vs_exact": (n / n_exact) if n_exact else None,
                "sec": round(time.time() - t0, 3),
            }
        )
        print("fuzzy", rows[-1], flush=True)
    out["detectors"]["dedup_fuzzy_prefix_capped"] = {
        "n_exact_pairs": n_exact,
        "sweep": rows,
    }

    # ---- media pigeonhole (r = 0 segment join) ----
    def media_sig():
        docs = load_table(spark, sf_dir, "documents")
        return simhash_sig(media_gram_postings(docs), "g", MEDIA_SIMHASH_BITS)

    n_exact_m = media_simhash_pairs(spark, sf_dir).count()
    rows = []
    for cap in CAPS:
        t0 = time.time()
        n = simhash_pairs(
            media_sig(),
            MEDIA_SIMHASH_BITS,
            MEDIA_HAMMING_MAX,
            0,
            key_cap=cap,
            budget=None,
        ).count()
        rows.append(
            {
                "cap": cap,
                "n_pairs": n,
                "recall_vs_exact": (n / n_exact_m) if n_exact_m else None,
                "sec": round(time.time() - t0, 3),
            }
        )
        print("media", rows[-1], flush=True)
    out["detectors"]["media_simhash_pairs_capped"] = {
        "n_exact_pairs": n_exact_m,
        "sweep": rows,
    }

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "RECALL_VS_CAP.json"), "w") as f:
        json.dump(out, f, indent=1)
    print("wrote RECALL_VS_CAP.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())

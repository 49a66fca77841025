#!/usr/bin/env python
"""Batched-BPE depth demonstration (round-10 verdict ask #4): the batching
exists so real-tokenizer merge counts (32k) are reachable in ~thousands of
Spark rounds instead of 32k; prove the round loop SCALES by fitting at
rounds = 8 / 16 / 32 with topc = 32 on the sf1 corpus and recording

- total wall time per depth, and the marginal seconds-per-round between
  depths (flat marginal cost ⇔ per-round work is vocab-bounded and the
  eager checkpoints keep lineage from growing round-over-round),
- merges learned per depth (how fast the conflict-free acceptance
  approaches the topc ceiling as the vocabulary diversifies),
- the session's persistent-RDD count after each fit (checkpoint blocks
  linear in rounds, released when the fit's frames are GC'd).

Writes BPE_DEPTH.json at the repo root and injects the same block as
``bpe_depth_evidence`` into BENCH_SCALING.json when present.

Usage: python scripts/bpe_depth.py [sf_dir=/root/testdata_local/sf1]
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEPTHS = (8, 16, 32)
TOPC = 32


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata_local/sf1"
    from komodo_data_spark.session import default_cores, get_spark

    cpus = default_cores()

    spark = get_spark(
        app_name="bpe-depth",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    from komodo_data_spark.operators.text_analysis import _bpe_fit_batched

    # codegen warm-up at the smallest sf (same class identities)
    _cur, m = _bpe_fit_batched(
        spark, "/root/testdata/sf0.001", rounds=2, topc=TOPC
    )
    m.count()
    del _cur, m
    gc.collect()

    runs = []
    for rounds in DEPTHS:
        t0 = time.time()
        cur, merges = _bpe_fit_batched(
            spark, sf_dir, rounds=rounds, topc=TOPC
        )
        n_merges = merges.count()
        dt = round(time.time() - t0, 2)
        n_rdds = len(spark.sparkContext._jsc.getPersistentRDDs())
        runs.append(
            {
                "rounds": rounds,
                "topc": TOPC,
                "sec": dt,
                "sec_per_round": round(dt / rounds, 3),
                "n_merges": n_merges,
                "merges_per_round": round(n_merges / rounds, 2),
                "persistent_rdds_after": n_rdds,
            }
        )
        print(runs[-1], flush=True)
        del cur, merges
        gc.collect()
        spark.catalog.clearCache()

    marginal = []
    for a, b in zip(runs, runs[1:]):
        marginal.append(
            {
                "from_rounds": a["rounds"],
                "to_rounds": b["rounds"],
                "marginal_sec_per_round": round(
                    (b["sec"] - a["sec"]) / (b["rounds"] - a["rounds"]), 3
                ),
            }
        )
    out = {
        "sf_dir": sf_dir,
        "runs": runs,
        "marginal_sec_per_round": marginal,
    }
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BPE_DEPTH.json"), "w") as f:
        json.dump(out, f, indent=1)
    scaling = os.path.join(repo, "BENCH_SCALING.json")
    if os.path.exists(scaling):
        doc = json.load(open(scaling))
        doc["bpe_depth_evidence"] = out
        with open(scaling, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")
    print("wrote BPE_DEPTH.json (+ BENCH_SCALING.json evidence)")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""Skew-robustness bench: run the shuffle-heavy query families on a SKEWED
variant of the bench tables and compare per-query wall time against the
uniform layout. A query is flagged when skewed >= SKEW_FACTOR x uniform
(beyond an absolute noise floor) — the gate that proves the salting /
capping / AQE-skew-join design actually holds when the data misbehaves.

Skew injected (deterministic, no RNG):
- documents: one boilerplate paragraph appended to ~20% of docs
  (doc_id % 5 == 0) — a hot shingle/band/segment for every text-dedup path.
- events:    one hot user_id owning ~30% of all rows (event_id % 10 < 3) —
  a hot window/groupBy/sessionization key.
- orders:    one hot o_custkey owning ~30% of orders (o_orderkey % 10 < 3)
  — a hot join key for the salted-join strategy.
Other tables are byte-copied. The skewed directory is derived once per
source sf-dir and cached (delete it or pass --regen to rebuild).

Usage: python scripts/bench_skew.py [--sf-dir DIR] [--out BENCH_SKEW.json]
                                    [--regen]
Exit 1 if any query exceeds the skew factor.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SKEW_FACTOR = 2.0
NOISE_FLOOR_SEC = 0.5
HOT_DOC_MOD = 5     # doc_id % 5 == 0  -> ~20% of docs share the boilerplate
HOT_EVENT_MOD = 10  # event_id % 10 < 3 -> ~30% of events on one user
HOT_ORDER_MOD = 10  # o_orderkey % 10 < 3 -> ~30% of orders on one customer

BOILERPLATE = (
    "this page uses cookies to improve your experience please accept our "
    "terms of service and privacy policy before continuing to the content"
)

#: The shuffle-heavy families a hot key can hurt. dedup_ngram_pairs (the
#: labeled O(DF^2) baseline) is deliberately absent: a 20%-hot shingle is
#: exactly its documented failure mode; the capped variant IS the scale
#: path and is measured.
SKEW_QUERIES = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_pairs_capped",
    "dedup_fuzzy_prefix",
    "dedup_substring_spans",
    "dedup_clusters",
    "dedup_clusters_star",
    "dedup_source_overlap",
    "dedup_repeated_blocks",
    "corpus_clean",
    "corpus_prepare",
    "text_tfidf_top_terms",
    "text_tfidf_cosine_pairs",
    "text_bm25_rank",
    "text_quality_rule_flags",
    "text_nb_quality_classifier",
    # two-stage distinct keyed by (source, shingle): the boilerplate-hot
    # variant concentrates shingle mass, exactly the skew the map-side
    # combinable first stage claims to absorb
    "source_ngram_diversity",
    "orders_customer_join_salted",
    "events_heavy_hitters",
    "event_sessions",
    "events_transition_matrix",
    "copresence_pairs",
    # boilerplate shifts the score mass of ~20% of docs onto one value
    # ridge; the threshold fit must stay a combinable aggregate
    "docs_quality_quantile_filter",
    # the hot paragraph concentrates bigram-model mass on few keys
    "docs_perplexity_buckets",
    # the hot user becomes a hub node: a hot neighbor key in every
    # propagation round's join
    "graph_communities_lpa",
    # round 8: the hot boilerplate concentrates token mass — the
    # range-partitioned packing cumsum and the token-WEIGHTED threshold
    # fit must both stay partition-bounded under that ridge
    "token_packing",
    "docs_quality_token_weighted_filter",
    # the hot value ridge lands one giant tie group on a single rank
    # bucket; the midrank prefix must stay bucket-partitioned
    "events_spearman_trend",
    # the prefix filter's whole claim: a 20%-hot shingle generates ZERO
    # candidates because a hot key never lands in any doc's rare prefix
    "dedup_ngram_pairs_prefix",
    # round 9: sequence packing rides the same range-partitioned cumsum
    # as token_packing but fans out per sequence — the hot boilerplate's
    # token mass must not re-serialize the explode onto one task
    "token_packing_sequences",
    # round 9 (late): the OPH signature's bin route hashes the SHINGLE,
    # so a 20%-hot boilerplate shingle floods one (doc, bin) min — the
    # grouped min must stay map-side combinable, and the band join's
    # bucket occupancy must not collapse onto the hot docs
    "dedup_minhash_oph",
    # the KN fit's context/continuation aggregates key on the hot
    # boilerplate's few bigram types; both are aggregates over the MODEL
    # (types, not tokens) and must absorb the token-mass ridge map-side
    "text_kneser_ney_logprob",
)


def build_skew_dir(sf_dir: str, skew_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def mod_mask(col, m: int, upper: int):
        # pyarrow.compute has no modulo kernel; numpy round-trip is fine at
        # bench scale
        vals = col.combine_chunks().to_numpy(zero_copy_only=False)
        return pa.array((vals % m) < upper)

    os.makedirs(skew_dir, exist_ok=True)
    from komodo_data_spark.sources.tables import TABLE_NAMES

    for name in TABLE_NAMES:
        src = os.path.join(sf_dir, f"{name}.parquet")
        dst = os.path.join(skew_dir, f"{name}.parquet")
        if name == "documents":
            tb = pq.read_table(src)
            i = tb.schema.get_field_index("text")
            hot = mod_mask(tb["doc_id"], HOT_DOC_MOD, 1)
            text = pc.if_else(
                hot,
                pc.binary_join_element_wise(
                    pc.cast(tb["text"], pa.string()), BOILERPLATE, " "
                ),
                tb["text"],
            )
            pq.write_table(
                tb.set_column(i, tb.schema.field(i).with_type(text.type), text),
                dst,
            )
        elif name == "events":
            tb = pq.read_table(src)
            i = tb.schema.get_field_index("user_id")
            hot_user = pc.min(tb["user_id"]).as_py()
            hot = mod_mask(tb["event_id"], HOT_EVENT_MOD, 3)
            user = pc.if_else(
                hot, pa.scalar(hot_user, type=tb["user_id"].type), tb["user_id"]
            )
            pq.write_table(tb.set_column(i, tb.schema.field(i), user), dst)
        elif name == "orders":
            tb = pq.read_table(src)
            i = tb.schema.get_field_index("o_custkey")
            hot_cust = pc.min(tb["o_custkey"]).as_py()
            hot = mod_mask(tb["o_orderkey"], HOT_ORDER_MOD, 3)
            cust = pc.if_else(
                hot,
                pa.scalar(hot_cust, type=tb["o_custkey"].type),
                tb["o_custkey"],
            )
            pq.write_table(tb.set_column(i, tb.schema.field(i), cust), dst)
        else:
            shutil.copyfile(src, dst)


def main(argv: list[str] | None = None) -> int:
    from komodo_data_spark.session import default_cores, get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_SKEW.json"))
    ap.add_argument("--regen", action="store_true")
    ap.add_argument("--cpus", type=int, default=default_cores())
    args = ap.parse_args(argv)

    tag = os.path.basename(args.sf_dir.rstrip("/"))
    skew_dir = os.path.join("/tmp", "komodo_skew", tag)
    marker = os.path.join(skew_dir, "_complete")
    if args.regen and os.path.isdir(skew_dir):
        shutil.rmtree(skew_dir)
    if not os.path.exists(marker):
        if os.path.isdir(skew_dir):
            shutil.rmtree(skew_dir)
        print(f"building skewed tables: {args.sf_dir} -> {skew_dir}")
        build_skew_dir(args.sf_dir, skew_dir)
        open(marker, "w").close()

    spark = get_spark(
        app_name="komodo-bench-skew",
        master=f"local[{args.cpus}]",
        shuffle_partitions=int(args.cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()

    # same warm-up contract as bench.py: footers, worker pool, heavy codegen
    from komodo_data_spark.sources.tables import TABLE_NAMES, load_table

    for name in TABLE_NAMES:
        load_table(spark, args.sf_dir, name).count()
        load_table(spark, skew_dir, name).count()
    spark.range(0, int(args.cpus)).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = args.sf_dir
    # Iterative queries grow their round count with scale, so an sf0.001
    # warm-up leaves their later rounds' codegen cold (bench.py's
    # WARMUP_AT_BENCH_SF finding) — without the bench-sf warm pass, the
    # first measured run (always 'uniform') absorbs the one-time compile
    # cost and deflates the skewed/uniform ratio the gate checks.
    import bench as _bench

    bench_sf_warm = set(_bench.WARMUP_AT_BENCH_SF) | {"dedup_clusters"}
    for name, d in [(n, warm_dir) for n in SKEW_QUERIES] + [
        (n, args.sf_dir) for n in bench_sf_warm if n in SKEW_QUERIES
    ]:
        try:
            qs[name](spark, d).count()
        except Exception:
            pass
        spark.catalog.clearCache()

    results: dict[str, dict] = {}
    flagged: list[str] = []
    for name in SKEW_QUERIES:
        fn = qs[name]
        row = {}
        for key, d in (("uniform", args.sf_dir), ("skewed", skew_dir)):
            t0 = time.perf_counter()
            try:
                n = fn(spark, d).count()
                row[key] = round(time.perf_counter() - t0, 4)
                row[f"{key}_rows"] = n
            except Exception as exc:
                row[key] = -1.0
                row[f"{key}_err"] = repr(exc)[:200]
            spark.catalog.clearCache()
        if row["uniform"] > 0 and row["skewed"] > 0:
            row["ratio"] = round(row["skewed"] / row["uniform"], 3)
            row["flagged"] = bool(
                row["skewed"] >= row["uniform"] * SKEW_FACTOR
                and row["skewed"] - row["uniform"] >= NOISE_FLOOR_SEC
            )
        else:
            row["ratio"] = None
            row["flagged"] = True  # a crash on skew is a failure
        if row["flagged"]:
            flagged.append(name)
        results[name] = row
        print(f"{'FLAG' if row['flagged'] else 'ok  '} {name}: "
              f"uniform {row['uniform']:.2f}s skewed {row['skewed']:.2f}s "
              f"ratio {row['ratio']}")

    out = {
        "metric": "skew_over_uniform_wall_ratio",
        "sf_dir": args.sf_dir,
        "skew_factor_gate": SKEW_FACTOR,
        "hot_fractions": {"documents": 0.2, "events": 0.3, "orders": 0.3},
        "n_queries": len(results),
        "flagged": flagged,
        "queries": results,
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({"flagged": flagged, "n": len(results),
                      "out": os.path.basename(args.out)}))
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())

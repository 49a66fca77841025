"""Invariant tests for the training-pipeline operators (pipeline_ops.py)
on sf0.001 + tiny in-memory frames. The DuckDB-oracle value sweep runs via
scripts/check.py at sf0.01; here we pin the semantics that a hash-match
can't see: split determinism/exhaustiveness, chunk reconstruction, cluster
transitivity, packing capacity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from komodo_data_spark.operators import pipeline_ops as P

SF = "/root/testdata/sf0.001"


def test_hash_split_partitions_every_doc_deterministically(spark):
    from komodo_data_spark.sources.tables import load_table

    total = load_table(spark, SF, "documents").count()
    a = {r["split"]: r["n_docs"] for r in P.sample_hash_split(spark, SF).collect()}
    b = {r["split"]: r["n_docs"] for r in P.sample_hash_split(spark, SF).collect()}
    assert a == b  # hash assignment, not random(): rerun-stable
    assert sum(a.values()) == total  # exhaustive, no dropped docs
    assert set(a) <= {"train", "val", "test"}
    assert a["train"] > a.get("val", 0)  # 80/10/10 shape


def test_doc_chunks_cover_and_reconstruct(spark):
    """Every char of every doc appears in some chunk; stride-aligned
    prefixes of chunks re-concatenate to the original text."""
    from komodo_data_spark.sources.tables import load_table

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF, "documents").limit(50).collect()
    }
    chunks = (
        P.doc_chunks(spark, SF)
        .filter(F.col("doc_id").isin(list(docs)))
        .orderBy("doc_id", "chunk_start")
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text in docs.items():
        rows = by_doc[doc_id]
        # starts are 1, 1+stride, ... and every chunk is a true substring
        assert [r["chunk_start"] for r in rows] == list(
            range(1, len(text) + 1, P.CHUNK_STRIDE)
        )
        for r in rows:
            s = r["chunk_start"] - 1
            assert r["chunk_text"] == text[s : s + P.CHUNK_LEN]
        # stride-prefixes + final tail reconstruct the document
        rebuilt = "".join(
            r["chunk_text"][: P.CHUNK_STRIDE] for r in rows[:-1]
        ) + rows[-1]["chunk_text"]
        assert rebuilt == text


def test_dedup_clusters_are_transitive_closures(spark):
    """Cluster id must equal the min doc_id of each connected component,
    including across chains (a-b, b-c => a,b,c share one cluster)."""
    rows = P.dedup_clusters(spark, SF).collect()
    if not rows:  # sf0.001 may have no near-dup pairs — nothing to pin
        return
    label = {r["doc_id"]: r["cluster_id"] for r in rows}
    sizes: dict[int, int] = {}
    for r in rows:
        sizes[r["cluster_id"]] = sizes.get(r["cluster_id"], 0) + 1
        assert r["cluster_size"] >= 2  # every clustered node came from a pair
    for r in rows:
        assert sizes[r["cluster_id"]] == r["cluster_size"]
        assert label[r["cluster_id"]] == r["cluster_id"]  # rep labels itself


def test_cc_star_path_graph_converges_in_log_rounds(spark):
    """The alternating large-star/small-star components must label a
    1000-node PATH graph (the worst case for min-label propagation, which
    needs O(diameter)=999 rounds) in ~log2(n) rounds, with every node
    labeled by the component minimum."""
    import math

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "src long, dst long"
    )
    labels, rounds = P._cc_star(edges)
    assert rounds <= math.ceil(math.log2(1000)) + 4
    got = {(r["node"], r["label"]) for r in labels.collect()}
    assert got == {(i, 0) for i in range(1000)}


def test_cc_star_matches_union_find_on_random_components(spark):
    """Star components == union-find ground truth on a multi-component
    graph with chains, duplicate edges, and self-loops."""
    import random

    rng = random.Random(5)
    comp_edges = []
    for c in range(20):
        nodes = list(range(c * 50, c * 50 + rng.randint(2, 40)))
        comp_edges.extend(zip(nodes, nodes[1:]))
        comp_edges.extend(
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(5)
        )
    e = spark.createDataFrame(comp_edges, "src long, dst long")
    labels, _rounds = P._cc_star(e)
    got = {(r["node"], r["label"]) for r in labels.collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in comp_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth = {(n, find(n)) for n in parent}
    assert got == truth


def test_dedup_clusters_star_equals_propagation_twin(spark):
    """dedup_clusters_star is an exact output twin of dedup_clusters —
    same pairs in, same (doc_id, cluster_id, cluster_size) out."""
    a = sorted(map(tuple, P.dedup_clusters(spark, SF).collect()))
    b = sorted(map(tuple, P.dedup_clusters_star(spark, SF).collect()))
    assert a == b


def test_token_packing_respects_capacity_per_bin(spark):
    """Each bin's token total stays under capacity + one overflow doc (the
    classic cut-at-boundary property), and doc counts per lang are
    preserved."""
    from komodo_data_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    n_docs = d.count()
    out = P.token_packing(spark, SF).collect()
    assert sum(r["n_docs"] for r in out) == n_docs
    max_doc_tokens = d.select(
        F.max(F.size(F.split(F.trim(F.lower("text")), r"\s+")))
    ).first()[0]
    for r in out:
        assert r["bin_tokens"] < P.PACK_CAPACITY + max_doc_tokens


def test_funnel_strictly_after_semantics(spark, tmp_path):
    """A purchase BEFORE the user's click must not count as step 3; a click
    before the first view must not count as step 2."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        # u1: proper view -> click -> purchase (counts all 3 steps)
        (1, 1_000_000_000_000_000_000, 1, "view", 1.0, "{}"),
        (2, 1_100_000_000_000_000_000, 1, "click", 1.0, "{}"),
        (3, 1_200_000_000_000_000_000, 1, "purchase", 1.0, "{}"),
        # u2: purchase BEFORE click (steps 1-2 only)
        (4, 1_000_000_000_000_000_000, 2, "view", 1.0, "{}"),
        (5, 1_050_000_000_000_000_000, 2, "purchase", 1.0, "{}"),
        (6, 1_100_000_000_000_000_000, 2, "click", 1.0, "{}"),
        # u3: click before any view (step... no steps: no view first)
        (7, 1_000_000_000_000_000_000, 3, "click", 1.0, "{}"),
        (8, 1_100_000_000_000_000_000, 3, "view", 1.0, "{}"),
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    d = tmp_path / "funnel_sf"
    d.mkdir()
    pq.write_table(table, d / "events.parquet")

    from komodo_data_spark.operators.events_analytics import funnel_conversion

    got = {
        r["event_type"]: r["n_users"]
        for r in funnel_conversion(spark, str(d)).collect()
    }
    assert got == {"view": 3, "click": 2, "purchase": 1}


def test_cdc_latest_delete_removes_key(spark, tmp_path):
    """CDC apply: the LATEST change decides — a user whose last change is a
    purchase (delete) disappears from the snapshot even with earlier
    inserts/updates; ties on ts break by event_id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = 1_000_000  # ms -> ns
    rows = [
        # u1: I then D  -> gone
        (1, 1000 * ns, 1, "view", 1.0, "{}"),
        (2, 2000 * ns, 1, "purchase", 2.0, "{}"),
        # u2: D then U  -> survives with the update
        (3, 1000 * ns, 2, "purchase", 3.0, "{}"),
        (4, 2000 * ns, 2, "click", 4.0, "{}"),
        # u3: same-ts tie, higher event_id wins (delete)
        (5, 1000 * ns, 3, "view", 5.0, "{}"),
        (6, 1000 * ns, 3, "purchase", 6.0, "{}"),
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    d = tmp_path / "cdc_sf"
    d.mkdir()
    pq.write_table(table, d / "events.parquet")

    from komodo_data_spark.operators.pipeline_ops import cdc_apply_changes

    got = {r["user_id"]: (r["op"], r["value"]) for r in cdc_apply_changes(spark, str(d)).collect()}
    assert got == {2: ("U", 4.0)}


def test_profile_orders_counts_real_nulls(spark, tmp_path):
    """The profiling op's null/distinct/min-max paths against a frame that
    actually CONTAINS nulls (the shipped testdata has none)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = {
        "o_orderkey": [1, 2, 3, None],
        "o_custkey": [10, 10, None, None],
        "o_orderstatus": ["O", None, "F", "F"],
        "o_totalprice": [100.0, None, 300.0, 50.0],
        "o_orderdate": [datetime.datetime(1995, 1, 1), None,
                        datetime.datetime(1996, 6, 1),
                        datetime.datetime(1994, 2, 2)],
        "o_orderpriority": ["1-URGENT", "2-HIGH", "2-HIGH", None],
    }
    table = pa.table(
        {
            "o_orderkey": pa.array(rows["o_orderkey"], pa.int64()),
            "o_custkey": pa.array(rows["o_custkey"], pa.int64()),
            "o_orderstatus": pa.array(rows["o_orderstatus"], pa.string()),
            "o_totalprice": pa.array(rows["o_totalprice"], pa.float64()),
            "o_orderdate": pa.array(rows["o_orderdate"], pa.timestamp("us")),
            "o_orderpriority": pa.array(rows["o_orderpriority"], pa.string()),
        }
    )
    d = tmp_path / "prof_sf"
    d.mkdir()
    pq.write_table(table, d / "orders.parquet")

    from komodo_data_spark.operators.profiling import profile_orders

    p = {r["col_name"]: r for r in profile_orders(spark, str(d)).collect()}
    assert all(r["n_rows"] == 4 for r in p.values())
    assert p["o_orderkey"]["n_null"] == 1
    assert p["o_orderkey"]["n_distinct"] == 3
    assert p["o_custkey"]["n_null"] == 2
    assert p["o_custkey"]["n_distinct"] == 1
    assert p["o_totalprice"]["min_num"] == 50.0
    assert p["o_totalprice"]["max_num"] == 300.0
    assert p["o_orderstatus"]["n_null"] == 1
    assert p["o_orderstatus"]["min_txt"] == "F"
    assert p["o_orderdate"]["min_txt"] == "1994-02-02"
    assert p["o_orderdate"]["max_txt"] == "1996-06-01"
    assert p["o_orderpriority"]["n_distinct"] == 2


def test_token_budget_mix_prefix_and_zero_budget(spark):
    """Budget-0 sources admit nothing; every admitted doc's PRE-doc cumsum
    is under its source's budget (greedy prefix may overshoot by at most
    one doc); selection is rerun-deterministic."""
    out = {
        r["source"]: (r["n_docs_kept"], r["n_tokens_kept"], r["budget_tokens"])
        for r in P.docs_token_budget_mix(spark, SF).collect()
    }
    assert "src2" not in out  # MIX_TOKEN_BUDGETS["src2"] == 0
    for src, (n_docs, n_tok, budget) in out.items():
        assert n_docs >= 1
        # greedy prefix: only the LAST admitted doc may cross the budget,
        # so tokens-kept minus that one doc must be under budget
        assert n_tok - budget < budget or n_docs == 1
    again = {
        r["source"]: (r["n_docs_kept"], r["n_tokens_kept"], r["budget_tokens"])
        for r in P.docs_token_budget_mix(spark, SF).collect()
    }
    assert out == again


def test_substring_spans_merge_adjacent_windows(spark, tmp_path):
    """Two docs sharing an 8-token run -> ONE maximal span per doc covering
    all 8 tokens (4 overlapping 5-grams merged), not 4 separate spans; a
    doc with no cross-doc 5-gram yields no row."""
    import pandas as pd

    from komodo_data_spark.operators import dedup as D

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                f"one two {shared} three four",
                f"{shared} nine ten eleven twelve",
                "totally different words with no overlap at all here",
            ],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [0, 0, 0],
        }
    )
    sf = str(tmp_path / "spans_sf")
    import os

    os.makedirs(sf, exist_ok=True)
    pdf.to_parquet(os.path.join(sf, "documents.parquet"))
    rows = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"], r["n_dup_grams"])
        for r in D.dedup_substring_spans(spark, sf).collect()
    }
    # doc 1: shared run occupies token positions 3..10 (1-based)
    assert rows[1] == (3, 10, 8, 4)
    # doc 2: same run at positions 1..8
    assert rows[2] == (1, 8, 8, 4)
    assert 3 not in rows


def test_pii_redaction_removes_every_scanned_hit(spark):
    """Redaction is exhaustive against the scanner's own pattern bank:
    after redaction, a re-scan of the redacted text finds zero hits, and
    the per-doc redaction count equals the scan's total. (The hash-match
    pins values; this pins the detect/redact contract.)"""
    from komodo_data_spark.sources.tables import load_table

    scan = {
        r["doc_id"]: r["n_emails"] + r["n_phones"] + r["n_ips"]
        for r in P.text_pii_scan(spark, SF).collect()
    }
    assert scan and all(n > 0 for n in scan.values())
    # rebuild redacted text and re-scan it
    d = load_table(spark, SF, "documents").select(
        "doc_id", P._pii_text_col().alias("t")
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("t", P._PII_EMAIL, "[EMAIL]"),
            P._PII_PHONE,
            "[PHONE]",
        ),
        P._PII_IPV4,
        "[IP]",
    )
    residue = d.select(
        (
            F.size(F.regexp_extract_all(redacted, F.lit(P._PII_EMAIL), 0))
            + F.size(F.regexp_extract_all(redacted, F.lit(P._PII_PHONE), 0))
            + F.size(F.regexp_extract_all(redacted, F.lit(P._PII_IPV4), 0))
        ).alias("n")
    ).agg(F.sum("n").alias("total")).collect()[0]["total"]
    assert residue == 0
    counts = {
        r["doc_id"]: r["n_redactions"]
        for r in P.text_pii_redact(spark, SF).collect()
    }
    assert counts == scan


def test_pii_scan_is_map_only(spark):
    """The PII scan must stay a single map-side codegen pass: no Exchange
    in the plan other than the deterministic output ordering's range
    partitioning."""
    plan = P.text_pii_scan(spark, SF)._jdf.queryExecution().executedPlan().toString()
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e == "rangepartitioning" for e in exchanges), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_domain_stats_fixture_agrees_with_url_dedup(spark):
    """docs_domain_stats and url_canonical_dedup share one URL fixture:
    the per-host doc counts must sum to the corpus size, and every host
    seen by the domain stats appears in some canonical URL."""
    from komodo_data_spark.sources.tables import load_table

    stats = P.docs_domain_stats(spark, SF).collect()
    total = load_table(spark, SF, "documents").count()
    assert sum(r["n_docs"] for r in stats) == total
    hosts = {r["host"] for r in stats}
    canon_hosts = {
        r["canonical_url"].split("://")[1].split("/")[0].split(":")[0]
        for r in P.url_canonical_dedup(spark, SF).collect()
    }
    assert hosts == canon_hosts


def test_temperature_mix_flattens_toward_uniform(spark):
    """alpha < 1 must compress the sampling distribution. Provable
    invariants (boost = p^(alpha-1)/sum(p^alpha) is strictly decreasing in
    p, and by Jensen boost(uniform) >= 1): both p and q sum to 1; boost is
    monotone decreasing in p; sources below uniform share are boosted > 1;
    the largest source is downweighted < 1 (it can't be >= 1 unless all
    shares are equal, since sum(p*boost) = 1)."""
    rows = P.docs_temperature_mix(spark, SF).collect()
    assert abs(sum(r["p_raw"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["q_temp"] for r in rows) - 1.0) < 1e-9
    by_p = sorted(rows, key=lambda r: r["p_raw"])
    for lo, hi in zip(by_p, by_p[1:]):
        if hi["p_raw"] > lo["p_raw"] + 1e-12:
            assert hi["boost"] < lo["boost"]
    uniform = 1.0 / len(rows)
    for r in rows:
        if r["p_raw"] < uniform:
            assert r["boost"] > 1.0, r
    if by_p[-1]["p_raw"] - by_p[0]["p_raw"] > 1e-9:  # not all equal
        assert by_p[-1]["boost"] < 1.0
    # allocation exhausts the budget
    assert abs(sum(r["alloc_tokens"] for r in rows) - P.TEMP_BUDGET_TOKENS) < 1e-6


def test_split_by_cluster_eliminates_leakage(spark, sf_dir):
    """The doc-hash split leaks near-dup pairs across the train/eval
    boundary (that is what split_leakage_pairs exists to catch); the
    cluster-keyed split must keep every near-dup pair in one split while
    still covering all documents exactly once."""
    from komodo_data_spark.operators.pipeline_ops import (
        docs_split_by_cluster,
        split_leakage_pairs,
    )
    from komodo_data_spark.sources.tables import load_table

    rows = docs_split_by_cluster(spark, sf_dir).collect()
    assert all(r["leaked_pairs"] == 0 for r in rows)
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    # clusters exist (n_units < n_docs somewhere), so the zero above is a
    # real constraint, not vacuous
    assert sum(r["n_units"] for r in rows) < n_docs
    # and the plain doc-hash split genuinely leaks on the same corpus
    assert split_leakage_pairs(spark, sf_dir).count() > 0


def test_curriculum_order_is_dense_phase_ordered_and_md5_shuffled(spark):
    """The two-stage rank must equal the naive global order: ranks are a
    dense 1..N permutation, phases are non-decreasing along the rank, and
    within a phase the order is exactly (md5('curriculum|'||doc_id),
    doc_id) — recomputed in Python."""
    import hashlib

    rows = P.docs_curriculum_order(spark, SF).orderBy("curriculum_rank").collect()
    n = len(rows)
    assert n > 0
    assert [r["curriculum_rank"] for r in rows] == list(range(1, n + 1))
    phases = [r["phase"] for r in rows]
    assert phases == sorted(phases)  # easy phases first
    assert set(phases) == {1, 2, 3, 4}  # cutoffs populate every phase

    def key(r):
        h = hashlib.md5(f"curriculum|{r['doc_id']}".encode()).hexdigest()
        return (r["phase"], h, r["doc_id"])

    assert [r["doc_id"] for r in rows] == [
        r["doc_id"] for r in sorted(rows, key=key)
    ]
    # phase assignment matches the fixed cutoffs
    c1, c2, c3 = P.CURRICULUM_CUTS
    for r in rows:
        d = r["difficulty"]
        want = 1 if d <= c1 else 2 if d <= c2 else 3 if d <= c3 else 4
        assert r["phase"] == want


#: Every query whose ordered running aggregate runs on the bucketed prefix
#: (``quantiles.prefix_scan`` / ``bucket_offsets``).
PREFIX_SCAN_QUERIES = [
    "docs_curriculum_order",
    "docs_surrogate_keys",
    "token_packing",
    "token_packing_sequences",
    "docs_token_budget_mix_twostage",
    "events_ks_test",
    "events_mannwhitney_u",
    "events_spearman_trend",
    "part_skyline",
]


@pytest.mark.parametrize("name", PREFIX_SCAN_QUERIES)
def test_curriculum_order_has_no_global_window(spark, sf_dir, name):
    """The corpus-sized window must be partitioned by its buckets; the
    only single-partition exchange allowed is the tiny bucket-offset
    frame (or a scalar total). Guard: the executed plan's SinglePartition
    exchanges must all sit above an aggregate (the bucket stats), never
    above the scan directly."""
    from komodo_data_spark.registry import registered

    fn, _ = registered()[name]
    plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    for frag in plan.split("Exchange SinglePartition")[1:]:
        assert "HashAggregate" in frag[:2000] or "partial_count" in frag[:2000]

"""Unit tests for the north-star extension packs (text analysis, dedup,
similarity, multimodal) on sf0.001, plus targeted semantics tests on tiny
in-memory frames. The full DuckDB-oracle sweep runs via scripts/check.py at
sf0.01 (the driver-gate scale); here we pin the invariants that would break
silently: shingle edge cases, LSH candidate⊆bruteforce containment,
deterministic hashes, mapInPandas schema stability."""

from __future__ import annotations

import hashlib

import pandas as pd

import pytest
from pyspark.sql import functions as F

from komodo_data_spark.functions import text_features as TF
from komodo_data_spark.operators import (
    dedup,
    multimodal_ops,
    similarity,
    text_analysis,
)


# --------------------------------------------------------------------------
# text_features primitives
# --------------------------------------------------------------------------


def test_shingles_short_doc_empty_not_descending(spark):
    """sequence(1,0) in Spark is [1,0] — the guard must yield [] instead."""
    df = spark.createDataFrame([("a b",), ("a b c d",)], "text string")
    out = df.select(
        TF.shingles(TF.tokens(), 3).alias("sh")
    ).collect()
    assert out[0]["sh"] == []
    assert out[1]["sh"] == ["a b c", "b c d"]


def test_sampled_recall_tracks_full_recall(spark):
    """The executable sampled-eval mode (adaptive hash-bucket slice) must
    measure a recall that tracks the full-corpus figure within tolerance at
    sf0.01 — the slice bounds the quadratic ground-truth cost without
    changing the banding-loss conclusion. At a corpus at-or-below the
    RECALL_SAMPLE_TARGET_DOCS budget the gate opens to the whole corpus
    (sampled == full exactly); the restriction kicks in past the budget."""
    sf = "/root/testdata/sf0.01"
    full = dedup.dedup_minhash_recall(spark, sf).collect()[0]
    samp = dedup.dedup_minhash_recall_sampled(spark, sf).collect()[0]
    # 500 docs < 2500 budget -> full-corpus gate: the eval degrades to the
    # exact full figure, never to a noisier one
    assert 0 < samp["n_true_pairs"] <= full["n_true_pairs"]
    assert samp["n_lsh_pairs"] <= samp["n_true_pairs"]  # LSH ⊆ truth
    assert full["recall"] is not None and samp["recall"] is not None
    assert abs(samp["recall"] - full["recall"]) <= 0.15
    # the adaptive bucket arithmetic itself (shared with the SQL oracle):
    # full corpus at/below budget, the old 50-bucket slice at sf0.1 scale,
    # clamped to the 1% granularity floor at web scale
    b = dedup._recall_sample_buckets
    assert b(500) == 100 and b(2500) == 100
    assert b(5_000) == 50 and b(50_000) == 5
    assert b(500_000) == 1 and b(10**9) == 1


def test_minhash_matches_python(spark):
    df = spark.createDataFrame([("x y z w",)], "text string")
    got = df.select(
        TF.minhash(TF.shingles(TF.tokens(), 3), 0).alias("mh")
    ).collect()[0]["mh"]
    expected = min(
        hashlib.md5(f"h0|{s}".encode()).hexdigest()
        for s in ["x y z", "y z w"]
    )
    assert got == expected


def test_simhash_deterministic_and_bounded(spark):
    df = spark.createDataFrame([("alpha beta gamma",), ("alpha beta gamma",)],
                               "text string")
    vals = [
        r["sh"]
        for r in df.select(TF.simhash(TF.tokens(), 32).alias("sh")).collect()
    ]
    assert vals[0] == vals[1]
    assert 0 <= vals[0] < 2**32


# --------------------------------------------------------------------------
# dedup invariants
# --------------------------------------------------------------------------


def test_dedup_exact_groups_duplicates(spark):
    pdf = [(1, "the same doc", "en", "s", 12), (2, "the  SAME   doc", "en", "s", 15),
           (3, "another doc entirely", "en", "s", 20)]
    df = spark.createDataFrame(
        pdf, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = dedup.load_spread
    try:
        dedup.load_spread = lambda s, d, n: df  # only documents is loaded here
        out = {r["content_fp"]: r for r in dedup.dedup_exact(spark, "ignored").collect()}
    finally:
        dedup.load_spread = orig
    groups = sorted((r["n_docs"], r["keeper_doc_id"]) for r in out.values())
    # docs 1+2 normalize identically (lower + whitespace collapse) -> one group
    assert groups == [(1, 3), (2, 1)]


def test_lsh_candidates_subset_of_bruteforce(spark, sf_dir):
    brute = {
        (r["doc_i"], r["doc_j"])
        for r in dedup.dedup_ngram_pairs(spark, sf_dir).collect()
    }
    lsh = {
        (r["doc_i"], r["doc_j"])
        for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert lsh <= brute
    # banding at j>=0.7 with b=4,r=3 should recover nearly everything
    if brute:
        assert len(lsh) >= 0.8 * len(brute)


def test_oph_candidates_subset_of_bruteforce(spark, sf_dir):
    """The OPH detector's verified pairs are true pairs (exact-Jaccard
    verify), and its single-hash-pass signature loses no more banding
    recall than the classic one on this corpus (measured 1.00 vs 1.00)."""
    brute = {
        (r["doc_i"], r["doc_j"])
        for r in dedup.dedup_ngram_pairs(spark, sf_dir).collect()
    }
    oph = {
        (r["doc_i"], r["doc_j"])
        for r in dedup.dedup_minhash_oph(spark, sf_dir).collect()
    }
    assert oph <= brute
    if brute:
        assert len(oph) >= 0.8 * len(brute)


def test_oph_signature_densifies_every_slot(spark):
    """Rotation densification: a doc with fewer shingles than bins still
    gets a fully-populated signature (no NULL slots — a NULL would poison
    the band concat), and identical docs get identical signatures."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),  # 2 3-gram shingles < 12 bins
            (2, "alpha beta gamma delta"),
            (3, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    sig = dedup._oph_signature(dedup.postings_of(docs)).collect()
    by_id = {r["doc_id"]: [r[f"h{i}"] for i in range(dedup.OPH_BINS)] for r in sig}
    assert all(v is not None for row in by_id.values() for v in row)
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


def test_simhash_pairs_symmetric_threshold(spark, sf_dir):
    rows = dedup.dedup_simhash(spark, sf_dir).collect()
    assert all(r["doc_i"] < r["doc_j"] for r in rows)
    assert all(0 <= r["hamming"] <= dedup.HAMMING_MAX for r in rows)


def test_embedding_pairs_cosine_bounds(spark, sf_dir):
    rows = dedup.dedup_embedding_pairs(spark, sf_dir).collect()
    assert all(dedup.COSINE_THRESHOLD <= r["cosine"] <= 1.0 + 1e-12 for r in rows)


# --------------------------------------------------------------------------
# similarity invariants
# --------------------------------------------------------------------------


def test_knn_shape_and_ordering(spark, sf_dir):
    rows = similarity.knn_brute_force(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(similarity.N_QUERIES))
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, similarity.TOP_K + 1))
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r["neighbor_id"] != q for r in rs)


def test_knn_lsh_neighbors_share_bucket(spark, sf_dir):
    from komodo_data_spark.operators.similarity import _bucket, _vectors

    v = _vectors(spark, sf_dir).withColumn("bucket", _bucket(F.col("e")))
    buckets = {r["vec_id"]: r["bucket"] for r in v.select("vec_id", "bucket").collect()}
    rows = similarity.knn_lsh_signbits(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert buckets[r["query_id"]] == buckets[r["neighbor_id"]]


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------


def test_media_table_types(spark, sf_dir):
    m = multimodal_ops.media_table(spark, sf_dir)
    fields = dict(m.dtypes)
    assert fields["payload"] == "binary"
    assert fields["media_meta"].startswith("struct<")


def test_media_metadata_matches_local_hash(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5).collect()
    meta = {
        r["doc_id"]: r
        for r in multimodal_ops.media_metadata(spark, sf_dir).collect()
    }
    for d in docs:
        m = meta[d["doc_id"]]
        raw = d["text"].encode()
        assert m["n_bytes"] == len(raw)
        assert m["payload_sha256"] == hashlib.sha256(raw).hexdigest()


def test_media_frame_samples_stride(spark, sf_dir):
    rows = multimodal_ops.media_frame_samples(spark, sf_dir).collect()
    assert rows
    assert all(r["frame_idx"] % multimodal_ops.FRAME_STRIDE == 0 for r in rows)


def test_decode_image_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal_ops.decode_image(b"\x89PNG fake")


# --------------------------------------------------------------------------
# registries stay in sync with the driver contract
# --------------------------------------------------------------------------


#: Rows-only entries pinned by a non-SQL check instead of a twin:
#: text_compression_ratio is pinned against CPython zlib in pytest, and
#: events_distinct_sketch_union by test_hll_sketch_union_close_to_exact.
PINNED_ROWS_ONLY = {"text_compression_ratio", "events_distinct_sketch_union"}


def test_registries_expose_oracles():
    """Every registered entry carries oracle SQL, except a rows-only
    (``None``) entry whose exact twin (the name without ``_approx``, or
    with ``_approx`` replaced by ``_exact``) is oracle-paired, or one in
    PINNED_ROWS_ONLY."""
    from komodo_data_spark.registry import registered

    reg = registered()
    for name, (fn, sql) in reg.items():
        assert callable(fn), name
        if sql is None:
            twins = (name.removesuffix("_approx"), name.replace("_approx", "_exact"))
            assert name in PINNED_ROWS_ONLY or (
                name.endswith("_approx")
                and any(t in reg and isinstance(reg[t][1], str) for t in twins)
            ), f"{name}: rows-only without an oracle-paired exact twin"
        else:
            assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_every_pack_oracle_is_registered():
    """A public no-argument ``*_oracle`` in a pack is some registered
    query's oracle: an oracle left over is a query whose ``@query`` was
    forgotten."""
    import importlib
    import inspect

    from komodo_data_spark.registry import PACKS, registered

    paired = {sql for _fn, sql in registered().values() if sql is not None}
    for pack in PACKS:
        mod = importlib.import_module(f"komodo_data_spark.{pack}")
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if (
                name.endswith("_oracle")
                and not name.startswith("_")
                and not inspect.signature(fn).parameters
            ):
                assert fn() in paired, f"{pack}.{name} is no query's oracle"


def test_query_declared_twice_raises():
    from komodo_data_spark.registry import query, registered

    def q1_pricing_summary(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="already declared"):
        query(q1_pricing_summary)
    with pytest.raises(ValueError, match="already declared"):
        query(oracle=None)(q1_pricing_summary)
    fn, _sql = registered()["q1_pricing_summary"]
    assert fn.__module__.endswith("operators.relational")


def test_script_imports_resolve():
    """Every name the scripts (scripts/*.py and the repo-root *.py) import
    from the package, and every attribute they read through an imported
    package module, exists: a deleted or renamed helper fails here, not on
    the script's next run. Parses the scripts; runs none of them."""
    import ast
    import importlib
    import inspect
    import pathlib

    def resolve(module: str, name: str):
        mod = importlib.import_module(module)
        if hasattr(mod, name):
            return getattr(mod, name)
        return importlib.import_module(f"{module}.{name}")

    root = pathlib.Path(__file__).resolve().parents[1]
    missing = []
    for path in sorted([*root.glob("*.py"), *root.glob("scripts/*.py")]):
        tree = ast.parse(path.read_text())
        modules = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (
                node.module or ""
            ).startswith("komodo_data_spark"):
                for a in node.names:
                    try:
                        obj = resolve(node.module, a.name)
                    except ImportError:
                        missing.append(f"{path.name}:{node.lineno} {a.name}")
                        continue
                    if inspect.ismodule(obj):
                        modules[a.asname or a.name] = obj
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith("komodo_data_spark.") and a.asname:
                        modules[a.asname] = importlib.import_module(a.name)
        missing += [
            f"{path.name}:{node.lineno} {node.value.id}.{node.attr}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ]
    assert not missing, missing


def test_avro_round_trip_if_available(spark, sf_dir, tmp_path):
    """Environment-gated: spark-avro is an external module not on this
    container's classpath; where it IS deployed, the same single-file
    round-trip contract must hold."""
    from komodo_data_spark.operators.relational import q1_pricing_summary

    df = q1_pricing_summary(spark, sf_dir)
    path = str(tmp_path / "rt_avro")
    try:
        df.coalesce(1).write.format("avro").save(path)
    except Exception as exc:
        pytest.skip(f"spark-avro module not deployed: {str(exc)[:80]}")
    back = spark.read.format("avro").load(path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_formats_round_trip(spark, sf_dir, tmp_path):
    from komodo_data_spark.operators.relational import q1_pricing_summary
    from komodo_data_spark.sources.formats import (
        read_result,
        schema_of,
        write_result,
    )

    df = q1_pricing_summary(spark, sf_dir)
    exp = df.toPandas().sort_values(["l_returnflag", "l_linestatus"]).reset_index(
        drop=True
    )
    ddl = schema_of(df)
    for fmt in ("parquet", "orc", "csv", "json"):
        path = str(tmp_path / f"rt_{fmt}")
        write_result(df, path, fmt, single_file=True)
        back = read_result(
            spark, path, fmt, schema=None if fmt in ("parquet", "orc") else ddl
        )
        got = back.toPandas().sort_values(
            ["l_returnflag", "l_linestatus"]
        ).reset_index(drop=True)[exp.columns]
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, rtol=1e-12)


def test_engine_facade(spark, sf_dir):
    from komodo_data_spark.engine import KomodoEngine

    eng = KomodoEngine(spark, sf_dir)
    assert eng.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"] > 0
    assert eng.sql("SELECT count(*) AS n FROM events_ts WHERE ts_ms > 0").collect()[0]["n"] > 0
    assert "q1_pricing_summary" in eng.query_names()
    assert eng.query("q1_pricing_summary").count() == 6
    import pytest as _pytest

    with _pytest.raises(KeyError):
        eng.query("nope")


def test_engine_sql_macros(spark, sf_dir):
    """SQL macros (declarative SQL UDFs) inline into the calling plan:
    same result as the hand-written expression, no Python eval node."""
    from komodo_data_spark.engine import KomodoEngine

    eng = KomodoEngine(spark, sf_dir)
    names = eng.register_macros()
    assert names == ["revenue", "ms_to_hour", "norm_tokens", "events_of_type"]

    got = eng.sql(
        "SELECT sum(revenue(l_extendedprice, l_discount)) AS rev FROM lineitem"
    )
    exp = eng.sql(
        "SELECT sum(l_extendedprice * (1 - l_discount)) AS rev FROM lineitem"
    )
    assert got.collect()[0]["rev"] == exp.collect()[0]["rev"]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # macro body inlined, stays in codegen

    assert eng.sql("SELECT ms_to_hour(7200123) AS h").collect()[0]["h"] == 2

    # table-valued macro reads the registered events_ts view
    n_click = eng.sql(
        "SELECT count(*) AS n FROM events_of_type('click')"
    ).collect()[0]["n"]
    n_direct = eng.sql(
        "SELECT count(*) AS n FROM events_ts WHERE event_type = 'click'"
    ).collect()[0]["n"]
    assert n_click == n_direct > 0


def test_engine_run_observed(spark, sf_dir):
    """observe(): metrics ride the query's own action — row count matches
    len(rows), custom invariants come back typed."""
    from pyspark.sql import functions as F

    from komodo_data_spark.engine import KomodoEngine

    eng = KomodoEngine(spark, sf_dir)
    rows, metrics = eng.run_observed("q1_pricing_summary")
    assert metrics["n_rows"] == len(rows) == 6

    rows, metrics = eng.run_observed(
        "events_value_histogram",
        {
            "n_rows": F.count(F.lit(1)),
            "total_n": F.sum("n"),
            "max_bin": F.max("bin"),
        },
    )
    assert metrics["n_rows"] == len(rows)
    assert metrics["total_n"] == sum(r["n"] for r in rows)
    assert metrics["max_bin"] == 19


def test_recommended_cluster_conf_scales_with_input():
    from komodo_data_spark.session import recommended_cluster_conf

    tb = 1024**4
    small = recommended_cluster_conf(10 * tb)
    large = recommended_cluster_conf(100 * tb)
    # 100 TB at 128 MB/task ≈ 800k tasks; 10 TB ≈ 80k — scales linearly
    assert int(large["spark.sql.shuffle.partitions"]) == 10 * int(
        small["spark.sql.shuffle.partitions"]
    )
    # tiny input still floors at 2x total cores
    tiny = recommended_cluster_conf(1024**3, executors=10, cores_per_executor=4)
    assert int(tiny["spark.sql.shuffle.partitions"]) == 80


def test_engine_explain_query(spark, sf_dir):
    from komodo_data_spark.engine import KomodoEngine

    eng = KomodoEngine(spark, sf_dir)
    stats = eng.explain_query("q3_shipping_priority")
    assert stats["broadcast_joins"] >= 1  # dims broadcast, never sort-merge
    assert stats["python_stages"] == 0  # hot path stays in the JVM
    assert stats["pushed_filters"] is True  # predicate reached the scan
    assert stats["codegen_spans"] >= 1


def test_hll_sketch_union_close_to_exact(spark, sf_dir):
    """Unioned daily HLL sketches estimate within ~5% of the exact distinct
    count (lgK=12 → ~1.6% RSE; 3σ margin)."""
    from komodo_data_spark.operators.events_analytics import (
        events_distinct_sketch_union,
    )
    from komodo_data_spark.sources.tables import load_events

    got = {
        r["event_type"]: r["approx_distinct_users"]
        for r in events_distinct_sketch_union(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for et, est in got.items():
        assert abs(est - exact[et]) <= max(2, 0.05 * exact[et]), (et, est, exact[et])


def test_cli_list_run_sql(spark, capsys):
    """CLI smoke: list prints every registry name; run/sql execute against
    sf0.001 without error (reusing the session via getOrCreate)."""
    from komodo_data_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert "q1_pricing_summary" in out and len(out) >= 138

    assert main(["run", "q6_forecast_revenue", "--sf-dir",
                 "/root/testdata/sf0.001", "--cores", "4"]) == 0
    assert "revenue" in capsys.readouterr().out

    assert main(["sql", "SELECT count(*) AS n FROM region", "--sf-dir",
                 "/root/testdata/sf0.001", "--cores", "4"]) == 0
    assert "5" in capsys.readouterr().out

    assert main(["run", "not_a_query", "--cores", "4"]) == 2


def test_bench_delta_flags_regressions(tmp_path, capsys):
    """bench_delta: exit 1 iff a query regressed beyond factor+floor; added/
    removed queries and totals are reported."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    import bench_delta

    old = {"value": 10.0, "queries": {"a": 1.0, "b": 2.0, "gone": 1.0}}
    new_ok = {"value": 10.5, "queries": {"a": 1.1, "b": 2.2, "fresh": 0.5}}
    new_bad = {"value": 14.0, "queries": {"a": 1.0, "b": 4.1, "fresh": 0.5}}
    po, pn_ok, pn_bad = (
        tmp_path / "o.json", tmp_path / "n1.json", tmp_path / "n2.json"
    )
    po.write_text(json.dumps(old))
    pn_ok.write_text(json.dumps(new_ok))
    pn_bad.write_text(json.dumps(new_bad))

    assert bench_delta.main.__globals__["json"]  # imported module sanity
    import unittest.mock as mock

    with mock.patch.object(sys, "argv", ["bench_delta", str(po), str(pn_ok)]):
        assert bench_delta.main() == 0
    out = capsys.readouterr().out
    assert "fresh" in out and "gone" in out

    with mock.patch.object(sys, "argv", ["bench_delta", str(po), str(pn_bad)]):
        assert bench_delta.main() == 1
    assert "b: 2.00s -> 4.10s" in capsys.readouterr().out

    # no-arg mode compares the two NEWEST per-round archives
    (tmp_path / "BENCH_DETAIL_r02.json").write_text(json.dumps(old))
    (tmp_path / "BENCH_DETAIL_r03.json").write_text(json.dumps(new_ok))
    with mock.patch.object(bench_delta, "REPO", str(tmp_path)), \
         mock.patch.object(sys, "argv", ["bench_delta"]):
        assert bench_delta.main() == 0
    out = capsys.readouterr().out
    assert "BENCH_DETAIL_r02.json -> BENCH_DETAIL_r03.json" in out


def test_bench_stream_flat_gate():
    """The streaming bench's flat gate: growing per-batch time (store-size
    leak shape) is flagged; flat and noisy-but-flat profiles pass; short
    runs are inconclusive, never flagged."""
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    import bench_stream

    mk = lambda times: [
        {"batch_id": i, "trigger_ms": t, "rows": 100} for i, t in enumerate(times)
    ]
    # batch 0 (setup cost) is excluded; flat tail passes
    assert bench_stream.flat_check(mk([4000, 900, 950, 920, 940, 910]))[
        "flagged"
    ] is False
    # linear growth with history size -> flagged
    grow = bench_stream.flat_check(mk([500, 500, 800, 1200, 1800, 2600, 3600]))
    assert grow["flagged"] is True and grow["flat_ratio"] >= 2.0
    # too few batches: inconclusive, not flagged
    assert bench_stream.flat_check(mk([500, 600]))["flagged"] is False


def test_bench_skew_builder_preserves_schema_and_injects_hot_keys(tmp_path):
    """The skew-table builder must keep every table's arrow schema
    byte-identical (the ts physical-type trap!) while injecting the
    documented hot fractions: ~20% boilerplate docs, ~30% single-user
    events, ~30% single-customer orders."""
    import sys

    import pyarrow.parquet as pq

    sys.path.insert(0, "/root/repo/scripts")
    import bench_skew

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "skew")
    bench_skew.build_skew_dir(src, dst)

    from komodo_data_spark.sources.tables import TABLE_NAMES

    for name in TABLE_NAMES:
        a = pq.read_schema(f"{src}/{name}.parquet")
        b = pq.read_schema(f"{dst}/{name}.parquet")
        assert a.equals(b), f"{name}: schema drifted\n{a}\n{b}"

    docs = pq.read_table(f"{dst}/documents.parquet")
    texts = docs["text"].to_pylist()
    frac_boiler = sum(
        t is not None and t.endswith(bench_skew.BOILERPLATE) for t in texts
    ) / len(texts)
    assert 0.15 <= frac_boiler <= 0.25

    ev = pq.read_table(f"{dst}/events.parquet")
    users = ev["user_id"].to_pylist()
    top = max(users.count(u) for u in set(users))
    assert 0.25 <= top / len(users) <= 0.40

    orders = pq.read_table(f"{dst}/orders.parquet")
    custs = orders["o_custkey"].to_pylist()
    top_c = max(custs.count(c) for c in set(custs))
    assert 0.25 <= top_c / len(custs) <= 0.40


def test_fuzzy_name_pairs_deletion_neighborhood_complete(spark):
    """Deletion-neighborhood candidates must recover EVERY edit-distance<=1
    pair (equality, substitution, insertion, deletion) and nothing at
    distance 2 — the exactness claim behind replacing the n² levenshtein
    join with a bucketed equi-join."""
    from komodo_data_spark.operators import join_strategies as J

    df = spark.createDataFrame(
        [
            (1, "alpha"),
            (2, "alphx"),   # substitution
            (3, "alph"),    # deletion
            (4, "alphaa"),  # insertion
            (5, "beta"),
            (6, "betaxx"),  # distance 2 from beta -> excluded
            (7, "alpha"),   # exact duplicate (distance 0)
        ],
        "c_custkey long, c_name string",
    )
    orig = J.load_table
    try:
        J.load_table = lambda s, d, n: df
        got = {
            (r["custkey_i"], r["custkey_j"], r["dist"])
            for r in J.customers_fuzzy_name_pairs(spark, "ignored").collect()
        }
    finally:
        J.load_table = orig
    assert got == {
        (1, 2, 1), (1, 3, 1), (1, 4, 1), (1, 7, 0),
        (2, 3, 1), (2, 7, 1), (3, 7, 1), (4, 7, 1),
    }


def test_psi_drift_flags_shifted_day_only(spark, tmp_path):
    """PSI must stay near zero for a day matching the corpus distribution
    and exceed the conventional 0.2 trigger for a day concentrated in one
    bin."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    DAY_NS = 86_400_000 * 1_000_000
    rows = []
    eid = 0
    # day 0: 100 events spread uniformly over the 10 value bins
    for i in range(100):
        eid += 1
        rows.append((eid, 19000 * DAY_NS + i * 1_000_000_000,
                     1, "view", (i % 10) * 10.0 + 5.0, "{}"))
    # day 1: 10 events all in bin 0 (the shifted day)
    for i in range(10):
        eid += 1
        rows.append((eid, 19001 * DAY_NS + i * 1_000_000_000,
                     1, "view", 5.0, "{}"))
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
    d = tmp_path / "psi_sf"
    d.mkdir()
    pq.write_table(table, d / "events.parquet")

    from komodo_data_spark.operators.events_analytics import (
        events_value_psi_drift,
    )

    psi = {
        r["day"]: r["psi"] for r in events_value_psi_drift(spark, str(d)).collect()
    }
    assert set(psi) == {19000, 19001}
    assert psi[19000] < 0.1          # matches the corpus: no drift signal
    assert psi[19001] > 0.2          # concentrated day: retrain trigger
    assert psi[19001] > 5 * psi[19000]


def test_embedding_lsh_hot_bucket_splits_but_result_unchanged(
    spark, tmp_path, monkeypatch
):
    """A duplicate-heavy corpus piles every vector into ONE sign-bit
    bucket; the per-bucket matmul must split into capped block-pair tasks
    (bounded memory) without changing the detected pair set."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    n, d = 120, 8
    # all-positive first EMB_LSH_BITS dims -> every vector in bucket 63
    base = rng.uniform(0.1, 1.0, size=(n, d)).astype(np.float32)
    base[60] = base[0] * 1.5  # planted near-dups (cosine 1.0)
    base[61] = base[1] * 0.5
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [r.tolist() for r in base],
            "label": [0] * n,
        }
    )
    sf = str(tmp_path / "emb_sf")
    import os

    os.makedirs(sf, exist_ok=True)
    pdf.to_parquet(os.path.join(sf, "embeddings.parquet"))

    def pairs():
        return {
            (r["vec_i"], r["vec_j"])
            for r in dedup.dedup_embedding_lsh(spark, sf).collect()
        }

    uncapped = pairs()  # n < default cap: single block per bucket
    monkeypatch.setattr(dedup, "EMB_LSH_TASK_ROWS", 16)  # force ~8 blocks
    capped = pairs()
    assert capped == uncapped
    assert {(0, 60), (1, 61)} <= uncapped

    # reference: brute force within the (single) bucket
    nrm = np.sqrt((base.astype(np.float64) ** 2).sum(axis=1))
    sims = (base.astype(np.float64) @ base.astype(np.float64).T) / np.outer(
        nrm, nrm
    )
    exp = {
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if sims[i, j] >= dedup.COSINE_THRESHOLD
    }
    assert uncapped == exp


def test_engine_export_corpus_last_mile(spark, sf_dir, tmp_path):
    from komodo_data_spark.engine import KomodoEngine
    from komodo_data_spark.sources.export import verify_export

    eng = KomodoEngine(spark, sf_dir)
    out = str(tmp_path / "corpus_out")
    manifests = eng.export_corpus(out, n_shards=2)
    assert set(manifests) == {"train", "val", "test"}
    assert all(m["total_rows"] > 0 for m in manifests.values())
    for split in manifests:
        v = verify_export(spark, f"{out}/{split}")
        assert v["ok"], (split, v["mismatches"])


def test_benchmark_contamination_semantic_threshold(spark, tmp_path):
    """Planted geometry: a corpus vector parallel to a benchmark vector is
    contaminated, an orthogonal one is not, and a zero vector (norm 0 →
    NULL similarity) is cleanly not-contaminated rather than NaN."""
    import os

    import numpy as np
    import pandas as pd

    from komodo_data_spark.operators.pipeline_ops import (
        benchmark_contamination_semantic,
    )

    d = 4
    rows = {
        0: [1.0, 0.0, 0.0, 0.0],   # benchmark member (0 % 47 == 0)
        1: [2.0, 0.0, 0.0, 0.0],   # parallel -> cosine 1.0
        2: [0.0, 1.0, 0.0, 0.0],   # orthogonal -> cosine 0.0
        3: [0.0, 0.0, 0.0, 0.0],   # zero norm -> NULL sim, not contaminated
    }
    pdf = pd.DataFrame(
        {
            "vec_id": np.array(list(rows), dtype=np.int64),
            "embedding": [np.array(v, dtype=np.float32) for v in rows.values()],
            "label": [0] * len(rows),
        }
    )
    sf = str(tmp_path / "semsf")
    os.makedirs(sf)
    pdf.to_parquet(os.path.join(sf, "embeddings.parquet"))
    got = {
        r["vec_id"]: (r["max_benchmark_cosine"], r["contaminated"])
        for r in benchmark_contamination_semantic(spark, sf).collect()
    }
    assert set(got) == {1, 2, 3}  # benchmark member excluded from corpus
    assert got[1][0] == 1.0 and got[1][1] is True
    assert got[2][0] == 0.0 and got[2][1] is False
    assert got[3][0] is None and got[3][1] is False


def test_source_ngram_diversity_detects_degenerate_source(spark, tmp_path):
    """A template-duplicated source must score a strictly lower type-token
    ratio than a varied one of the same size."""
    import os

    import pandas as pd

    from komodo_data_spark.operators.text_analysis import source_ngram_diversity

    docs = []
    for i in range(4):
        docs.append((i * 10 + 1, "alpha beta gamma delta epsilon", "en", "dup", 30))
    varied = [
        "one two three four five",
        "six seven eight nine ten",
        "eleven twelve thirteen fourteen fifteen",
        "sixteen seventeen eighteen nineteen twenty",
    ]
    for i, t in enumerate(varied):
        docs.append((i * 10 + 2, t, "en", "div", len(t)))
    pdf = pd.DataFrame(
        docs, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    sf = str(tmp_path / "divsf")
    os.makedirs(sf)
    pdf.to_parquet(os.path.join(sf, "documents.parquet"))
    got = {
        r["source"]: r for r in source_ngram_diversity(spark, sf).collect()
    }
    assert got["dup"]["n_docs"] == got["div"]["n_docs"] == 4
    # 5 tokens -> 3 shingles per doc, both sources total 12
    assert got["dup"]["total_shingles"] == got["div"]["total_shingles"] == 12
    assert got["dup"]["distinct_shingles"] == 3      # same doc repeated
    assert got["div"]["distinct_shingles"] == 12     # all distinct
    assert got["dup"]["diversity"] < got["div"]["diversity"] == 1.0


def test_compression_ratio_matches_python_zlib(spark, sf_dir):
    """text_compression_ratio is rows-only at the driver gate (zlib has no
    SQL twin); its exact twin is THIS pin against CPython's zlib on the
    same corpus plus planted degenerate docs — bit-deterministic for a
    fixed level, so equality is exact, not approximate."""
    import os
    import tempfile
    import zlib

    import pandas as pd

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    planted = [
        (990001, "spam " * 400),        # degenerate repetition -> tiny ratio
        (990002, None),                  # NULL text -> NULL ratio, keep False
        (990003, ""),                    # empty -> NULL ratio, keep False
        (990004, "a"),                   # sub-header-size doc: ratio > 1 ok
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": [r["doc_id"] for r in corpus] + [p[0] for p in planted],
            "text": [r["text"] for r in corpus] + [p[1] for p in planted],
            "lang": "en",
            "source": "s",
            "n_chars": 0,
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        pdf.to_parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            r["doc_id"]: r
            for r in text_analysis.text_compression_ratio(spark, tmp).collect()
        }
    assert len(got) == len(pdf)
    for did, t in zip(pdf["doc_id"], pdf["text"]):
        raw = t.encode("utf-8") if t is not None else b""
        r = got[did]
        assert r["n_bytes"] == len(raw)
        assert r["zlib_bytes"] == len(zlib.compress(raw, 6))
        if len(raw) == 0:
            assert r["compression_ratio"] is None and r["keep"] is False
        else:
            assert r["compression_ratio"] == len(zlib.compress(raw, 6)) / len(raw)
    # the planted spam doc is caught, plain corpus text is kept
    assert got[990001]["keep"] is False
    assert got[990001]["compression_ratio"] < 0.1
    kept = sum(1 for r in got.values() if r["keep"])
    assert kept > 0.5 * len(got)

"""sources.tables normalization contracts: the driver's events.parquet has
shipped `ts` under two different physical types across rounds (raw nanos
int64 in rounds 1-2, timestamp[us] in round 3). normalize_events must
produce the identical canonical trio for BOTH encodings, forever."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from komodo_data_spark.sources.tables import normalize_events

NANOS = [1_706_629_577_239_000_000, 1_706_545_884_014_000_000, 1_700_000_000_123_456_000]


def _base_cols(n):
    return {
        "event_id": list(range(n)),
        "user_id": [7] * n,
        "event_type": ["view"] * n,
        "value": [1.5] * n,
        "props": ["{}"] * n,
    }


def test_normalize_events_identical_across_physical_ts_types(spark, tmp_path):
    n = len(NANOS)
    # encoding A: raw nanos int64 (what nanosAsLong surfaces for TIMESTAMP(NANOS))
    pa_long = pa.table({**_base_cols(n), "ts": pa.array(NANOS, pa.int64())})
    pq.write_table(pa_long, str(tmp_path / "long.parquet"))
    # encoding B: timestamp[us] (round-3 driver testdata)
    pa_us = pa.table(
        {**_base_cols(n), "ts": pa.array([t // 1000 for t in NANOS], pa.timestamp("us"))}
    )
    pq.write_table(pa_us, str(tmp_path / "us.parquet"))

    a = normalize_events(spark.read.parquet(str(tmp_path / "long.parquet")))
    b = normalize_events(spark.read.parquet(str(tmp_path / "us.parquet")))
    cols = ["event_id", "ts", "ts_ms", "ts_ts"]
    pda = a.select(cols).orderBy("event_id").toPandas()
    pdb = b.select(cols).orderBy("event_id").toPandas()
    pd.testing.assert_frame_equal(pda, pdb)
    # spot-check the canonical values themselves
    assert list(pda["ts"]) == NANOS
    assert list(pda["ts_ms"]) == [t // 1_000_000 for t in NANOS]
    assert pda["ts_ts"].dt.floor("ms").iloc[0] == pd.Timestamp(NANOS[0] // 1_000_000, unit="ms")


# --------------------------------------------------------------------------
# load_table's session schema cache
# --------------------------------------------------------------------------


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_load_table_reuses_the_inferred_schema(spark, tmp_path):
    """A second read of an unchanged table starts no Spark job and gives
    the same schema and rows; a table rewritten in place with an added
    column is re-inferred and shows it."""
    from komodo_data_spark.sources.tables import load_table

    pq.write_table(pa.table({"a": [1, 2, 3]}), str(tmp_path / "t.parquet"))
    first = load_table(spark, str(tmp_path), "t")
    jobs = _next_job_id(spark)
    again = load_table(spark, str(tmp_path), "t")
    assert _next_job_id(spark) == jobs
    assert again.schema == first.schema
    assert again.count() == first.count() == 3

    pq.write_table(
        pa.table({"a": [1, 2], "b": ["x", "y"]}), str(tmp_path / "t.parquet")
    )
    rewritten = load_table(spark, str(tmp_path), "t")
    assert rewritten.columns == ["a", "b"]
    assert sorted(rewritten.collect()) == [(1, "x"), (2, "y")]


def test_load_table_missing_path_is_not_cached(spark, tmp_path):
    import os

    from pyspark.errors import AnalysisException

    from komodo_data_spark.sources import tables

    with pytest.raises(AnalysisException) as err:
        tables.load_table(spark, str(tmp_path), "missing")
    assert err.value.getCondition() == "PATH_NOT_FOUND"
    missing = os.path.abspath(tables.table_path(str(tmp_path), "missing"))
    assert all(path != missing for _, path in tables._SCHEMAS)


def test_load_table_evicts_other_applications(spark, tmp_path):
    from komodo_data_spark.sources import tables

    pq.write_table(pa.table({"a": [1]}), str(tmp_path / "t.parquet"))
    stale = ("app-of-a-stopped-session", str(tmp_path / "t.parquet"))
    tables._SCHEMAS[stale] = ((), None)
    tables.load_table(spark, str(tmp_path), "t")
    assert stale not in tables._SCHEMAS
    assert {app for app, _ in tables._SCHEMAS} == {spark.sparkContext.applicationId}


# --------------------------------------------------------------------------
# training-shard export sink
# --------------------------------------------------------------------------


def test_export_shards_deterministic_manifest_and_verify(spark, tmp_path):
    from pyspark.sql import functions as F

    from komodo_data_spark.sources.export import (
        export_training_shards,
        read_manifest,
        verify_export,
    )
    from komodo_data_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    d = load_table(spark, sf, "documents").select(
        "doc_id", "text", F.col("n_chars").alias("n_tokens")
    )
    out = str(tmp_path / "shards")
    m1 = export_training_shards(d, out, n_shards=4, token_col="n_tokens")
    assert m1["total_rows"] == d.count()
    assert m1["total_tokens"] == d.agg(F.sum("n_tokens")).collect()[0][0]
    assert set(m1["shards"]) <= {"0", "1", "2", "3"}
    # loader-side audit passes on a fresh read
    v = verify_export(spark, out)
    assert v["ok"], v["mismatches"]
    # re-export of identical input: identical manifest (deterministic,
    # idempotent overwrite — no duplicated rows)
    m2 = export_training_shards(d, out, n_shards=4, token_col="n_tokens")
    assert m2 == m1
    assert read_manifest(out) == m1
    back = spark.read.parquet(out)
    assert back.count() == m1["total_rows"]
    # hash-assignment stability: each doc's shard is a pure function of its
    # key — exporting a SUBSET assigns the same shards
    sub_out = str(tmp_path / "shards_sub")
    sub = d.filter(F.col("doc_id") % 3 == 0)
    export_training_shards(sub, sub_out, n_shards=4, token_col="n_tokens")
    full_map = {
        r["doc_id"]: r["shard"]
        for r in spark.read.parquet(out).select("doc_id", "shard").collect()
    }
    for r in spark.read.parquet(sub_out).select("doc_id", "shard").collect():
        assert full_map[r["doc_id"]] == r["shard"]


def test_export_verify_catches_tampering(spark, tmp_path):
    import glob
    import os

    from pyspark.sql import functions as F

    from komodo_data_spark.sources.export import (
        export_training_shards,
        verify_export,
    )
    from komodo_data_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    d = load_table(spark, sf, "documents").select("doc_id", "text")
    out = str(tmp_path / "shards")
    export_training_shards(d, out, n_shards=2)
    assert verify_export(spark, out)["ok"]
    # drop one shard's files -> row-count AND fingerprint mismatches
    victim = glob.glob(os.path.join(out, "shard=0", "*.parquet"))
    assert victim
    for f in victim:
        os.remove(f)
    v = verify_export(spark, out)
    assert not v["ok"]
    assert any("shard 0" in m for m in v["mismatches"])
    assert any("fingerprint" in m for m in v["mismatches"])


def test_export_reshard_removes_stale_partitions_and_flags_extras(spark, tmp_path):
    """Shrinking n_shards must not leave stale shard dirs serving duplicate
    rows (full overwrite, not dynamic); an on-disk shard absent from the
    manifest is flagged even though XOR-cancellation could hide it."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from komodo_data_spark.sources.export import (
        export_training_shards,
        verify_export,
    )
    from komodo_data_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    d = load_table(spark, sf, "documents").select("doc_id", "text")
    out = str(tmp_path / "shards")
    export_training_shards(d, out, n_shards=8)
    m = export_training_shards(d, out, n_shards=2)  # re-export, fewer shards
    on_disk = {p for p in os.listdir(out) if p.startswith("shard=")}
    assert on_disk == {"shard=0", "shard=1"}  # no stale shard=2..7 dirs
    assert spark.read.parquet(out).count() == m["total_rows"]  # no dup rows
    assert verify_export(spark, out)["ok"]
    # duplicate a whole shard dir under a name the manifest doesn't know:
    # the global XOR cancels (even multiplicity), but the shard check flags it
    shutil.copytree(os.path.join(out, "shard=0"), os.path.join(out, "shard=5"))
    v = verify_export(spark, out)
    assert not v["ok"]
    assert any("absent from manifest" in msg for msg in v["mismatches"])
    # a pre-existing 'shard' column is refused, not clobbered
    try:
        export_training_shards(
            d.withColumn("shard", F.lit(1)), str(tmp_path / "x"), n_shards=2
        )
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_export_empty_frame_roundtrips(spark, tmp_path):
    from pyspark.sql import functions as F

    from komodo_data_spark.sources.export import (
        export_training_shards,
        verify_export,
    )
    from komodo_data_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    d = load_table(spark, sf, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 0
    )
    out = str(tmp_path / "empty")
    m = export_training_shards(d, out, n_shards=4)
    assert m["total_rows"] == 0 and m["shards"] == {}
    v = verify_export(spark, out)
    assert v["ok"], v["mismatches"]


def test_end_to_end_prepare_pack_export(spark, tmp_path):
    """The full last mile in one chain: corpus_prepare's surviving docs ->
    per-split sharded export with manifest -> loader-side verification.
    Totals must agree with the registry rollup (same plan, doc-level)."""
    from pyspark.sql import functions as F

    from komodo_data_spark.operators.corpus import (
        corpus_prepare,
        corpus_prepare_docs,
    )
    from komodo_data_spark.sources.export import (
        export_training_shards,
        verify_export,
    )

    sf = "/root/testdata/sf0.001"
    docs = corpus_prepare_docs(spark, sf).cache()
    rollup = {
        (r["split"], r["lang"]): (r["n_docs"], r["total_tokens"])
        for r in corpus_prepare(spark, sf).collect()
    }
    total_docs = sum(n for n, _ in rollup.values())
    total_tokens = sum(t for _, t in rollup.values())
    manifests = {}
    for split in ("train", "val", "test"):
        out = str(tmp_path / split)
        manifests[split] = export_training_shards(
            docs.filter(F.col("split") == split).drop("split"),
            out,
            n_shards=4,
            token_col="n_tokens",
        )
        v = verify_export(spark, out)
        assert v["ok"], (split, v["mismatches"])
    assert sum(m["total_rows"] for m in manifests.values()) == total_docs
    assert sum(m["total_tokens"] for m in manifests.values()) == total_tokens
    # train split dominates (80/10/10 hash split upstream)
    assert manifests["train"]["total_rows"] > manifests["val"]["total_rows"]
    docs.unpersist()


def test_export_fingerprint_is_null_position_sensitive(spark):
    """Multi-arg xxhash64 skips NULLs, hashing ('x', NULL) == (NULL, 'x');
    the sentineled-concat row fingerprint must NOT have that blind spot."""
    from komodo_data_spark.sources.export import _row_fp

    df = spark.createDataFrame(
        [("x", None), (None, "x")], "a string, b string"
    )
    fps = [r["fp"] for r in df.select(_row_fp(["a", "b"]).alias("fp")).collect()]
    assert fps[0] != fps[1]

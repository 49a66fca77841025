"""Loaders for the driver-provided synthetic tables (/root/testdata/sf*).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each (TESTDATA.md).

``events.parquet`` stores TIMESTAMP(NANOS), which Spark's parquet reader
rejects unless ``spark.sql.legacy.parquet.nanosAsLong`` is set; the loader
applies the engine confs first, and `load_events` normalizes the raw nanos
long into both an epoch-millis long (`ts_ms`) and a proper timestamp
(`ts_ts`) so downstream operators never re-derive them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from komodo_data_spark.session import configure

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: estimated_scan_splits probes parquet footers for row-group counts up to
#: this many files; beyond it, footer reads cost more than they inform (a
#: many-file layout has enough splits either way).
_MAX_FOOTER_PROBES = 64


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def files_fingerprint(path: str) -> tuple:
    """(name, size, mtime_ns) of each data file at ``path``: the file
    itself, or every file under a directory (one level of nesting, so a
    partitioned table's part files count). A table rewritten in place
    gets a new fingerprint, so the caches keyed by it (the schema cache
    below, ``model_memo``) miss instead of serving the old files' result.
    O(file count) driver-side stat calls, never data-sized; a path that
    cannot be listed fingerprints as ``()``."""
    def entry(e, name):
        st = e.stat(follow_symlinks=False)
        return (name, st.st_size, st.st_mtime_ns)

    out = []
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
        with os.scandir(path) as it:
            for e in sorted(it, key=lambda e: e.name):
                if e.name.startswith("."):
                    continue
                if not e.is_dir(follow_symlinks=False):
                    out.append(entry(e, e.name))
                    continue
                with os.scandir(e.path) as sub:
                    out.extend(
                        entry(s, e.name + "/" + s.name)
                        for s in sorted(sub, key=lambda s: s.name)
                        if not s.name.startswith(".")
                    )
    except OSError:
        pass
    return tuple(out)


#: (applicationId, absolute table path) -> (files_fingerprint, the schema
#: Spark inferred from those files)
_SCHEMAS: dict[tuple, tuple] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``name``'s parquet table under ``sf_dir``, its schema inferred once
    per application and table files.

    Inferring a parquet schema runs a footer-read Spark job on every read;
    a read given the schema builds the same scan with none. The cache is
    keyed by (applicationId, absolute path) and holds the inferred schema
    with the :func:`files_fingerprint` it was inferred from: a table
    rewritten in place (new size or mtime of any file) misses and is
    re-inferred, and entries of other applications are evicted on first
    touch. A path the driver cannot see (a remote URI, a missing path,
    which raises ``PATH_NOT_FOUND``) is read uncached. The schema depends
    on the parquet inference confs as well; :func:`configure` sets them
    before the first read, and nothing changes them mid-application."""
    configure(spark)
    path = table_path(sf_dir, name)
    if not os.path.exists(path):
        return spark.read.parquet(path)
    app = spark.sparkContext.applicationId
    for k in [k for k in _SCHEMAS if k[0] != app]:
        del _SCHEMAS[k]
    key, fp = (app, os.path.abspath(path)), files_fingerprint(path)
    if key in _SCHEMAS and _SCHEMAS[key][0] == fp:
        return spark.read.schema(_SCHEMAS[key][1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (fp, df.schema)
    return df


def _size_bytes(v: str) -> int:
    """Parse a Spark size conf value ("134217728b", "128m", "4194304")."""
    s = str(v).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("b", 1)):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    return int(s) * mult


def estimated_scan_splits(spark: SparkSession, path: str) -> int:
    """Driver-side estimate of how many input splits a parquet scan of
    ``path`` yields — from the file listing alone, at plan-build time, no
    Spark job (``df.rdd.getNumPartitions()`` would trigger one). Mirrors
    Spark's FilePartition packing: files are chopped into maxSplitBytes
    pieces (maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    totalBytes/cores))), sorted descending, and greedily bin-packed with
    an openCostInBytes pad per piece.

    Byte-range splits overestimate usable parallelism on parquet: a split
    only does work if a ROW GROUP starts inside it, so a big single-file
    single-row-group table (this rig's testdata convention) yields many
    byte splits but one working task. The estimate is therefore clamped to
    the total row-group count, read from the footers driver-side — skipped
    above _MAX_FOOTER_PROBES files, where a multi-file layout has enough
    splits regardless.

    A path the local filesystem cannot see (s3://, hdfs://) is assumed to
    be a real production table with a splittable multi-file layout —
    callers gating a rebalance on this estimate will then skip it, which
    is the right default off-rig."""
    import math

    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = [
            os.path.join(r, f)
            for r, _, fs in os.walk(path)
            for f in fs
            if not f.startswith(("_", ".")) and not f.endswith(".crc")
        ]
    else:
        return spark.sparkContext.defaultParallelism
    if not files:
        return 1
    sizes = [os.path.getsize(f) for f in files]
    total = sum(sizes)
    row_group_cap = None
    if len(files) <= _MAX_FOOTER_PROBES:
        try:
            import pyarrow.parquet as pq

            row_group_cap = sum(
                pq.ParquetFile(f).metadata.num_row_groups for f in files
            )
        except Exception:
            row_group_cap = None  # not parquet / unreadable: bytes only
    max_part = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    open_cost = _size_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4m")
    )
    cores = spark.sparkContext.defaultParallelism
    max_split = min(max_part, max(open_cost, math.ceil(total / cores)))
    pieces = []
    for s in sizes:
        while s > max_split:
            pieces.append(max_split)
            s -= max_split
        pieces.append(s)
    pieces.sort(reverse=True)
    bins, cur = 0, 0
    for p in pieces:
        w = p + open_cost
        if cur > 0 and cur + w > max_split:
            bins += 1
            cur = 0
        cur += w
    bins += 1 if cur > 0 else 0
    return bins if row_group_cap is None else min(bins, row_group_cap)


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load ``name`` and round-robin repartition to core count ONLY when
    the scan cannot already feed every core.

    The testdata ships one parquet file per table with a single row group —
    unsplittable, so every downstream expression would run in ONE task
    (measured 10 s for the shingle stage at sf0.1); one cheap shuffle of
    the raw text unlocks all cores. But ``repartition()`` always shuffles
    every row — on a real multi-file 100 TB table that is an avoidable
    full shuffle of the corpus per query, so the rebalance is gated on the
    scan's estimated split count: a layout that already yields >= cores
    splits loads untouched (pinned by tests/test_plans.py on the
    scrambled multi-file fixture)."""
    df = load_table(spark, sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    if estimated_scan_splits(spark, table_path(sf_dir, name)) >= cores:
        return df
    return df.repartition(cores)


def normalize_events(ev: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a canonical trio regardless of the physical
    parquet type: ``ts`` (epoch-nanos long), ``ts_ms`` (epoch-millis long),
    ``ts_ts`` (timestamp). The driver testdata has shipped ``ts`` both as
    TIMESTAMP(NANOS) (surfacing as a raw nanos long under ``nanosAsLong``)
    and as timestamp[us] (surfacing as TIMESTAMP_NTZ); with the session
    timezone pinned to UTC both derivations agree with the DuckDB oracles'
    ``epoch_ms(ts)``. Pure deterministic expressions — safe on streaming
    DataFrames too (streaming/windows.events_stream reuses this).
    """
    dt = ev.schema["ts"].dataType.simpleString()
    if dt == "bigint":
        # Integer division, never double: nanos (~1.7e18) exceed double's
        # 53-bit mantissa, so (ts/1e6).cast('long') is off by 1 ms on
        # exact-ms stamps.
        return ev.withColumns(
            {
                "ts_ms": F.expr("ts div 1000000"),
                "ts_ts": F.timestamp_micros(F.expr("ts div 1000")),
            }
        )
    # timestamp / timestamp_ntz: the NTZ→TIMESTAMP cast is wall-clock
    # identity under the UTC session timezone.
    return ev.withColumns(
        {
            "ts": F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000),
            "ts_ms": F.expr("unix_micros(cast(ts as timestamp)) div 1000"),
            "ts_ts": F.col("ts").cast("timestamp"),
        }
    )


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with `ts` (epoch-nanos long) plus derived `ts_ms` and `ts_ts`."""
    return normalize_events(load_table(spark, sf_dir, "events"))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}

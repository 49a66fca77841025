"""Idempotent partition backfill — recompute a SUBSET of a partitioned
table in place without touching sibling partitions.

The op a 100 TB pipeline runs daily: a late-arriving correction or a logic
fix invalidates some partitions; rerunning the whole table is a non-starter
and hand-deleting directories is how tables get corrupted. The contract
here: the caller names the partition values to rebuild and supplies the
recompute as a DataFrame function; the write is the epoch-store
protocol's partition overwrite (``streaming/stores.overwrite_partitions``),
so exactly the recomputed partitions are replaced and a re-run of the same
backfill is a no-op-shaped overwrite.

Scale: the recompute frame is filtered to the target partitions BEFORE any
work (partition pruning on the source scan), and the overwrite touches only
those directories — cost scales with the backfill, not the table.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from komodo_data_spark.streaming.stores import overwrite_partitions


def backfill_partitions(
    spark: SparkSession,
    table_path: str,
    partition_col: str,
    partition_values: Sequence,
    recompute: Callable[[SparkSession], DataFrame],
) -> dict:
    """Rebuild ``partition_values`` of ``table_path`` from ``recompute``'s
    output (which must include ``partition_col``). Returns an audit dict.

    Rows in the recompute output that fall OUTSIDE the named partitions are
    dropped (and counted in the audit) — a backfill must never silently
    widen its blast radius.

    Two traps closed here: (1) the recompute output is localCheckpointed so
    the audited frame IS the written frame — a nondeterministic recompute
    (sampling, current-state reads) cannot make the audit disagree with
    what landed on disk, and the recompute runs ONCE, not once per count;
    (2) a partition NAMED in ``partition_values`` whose corrected content
    is ZERO rows is emptied explicitly — dynamic overwrite only replaces
    partitions present in the written frame, so without the explicit
    delete an invalidated partition would silently keep its old bad rows.
    Emptied partitions are listed in the audit. Deletion uses the local
    filesystem API (this rig); on object stores swap in the Hadoop
    FileSystem delete, same contract.
    """
    import os
    import shutil

    fresh = recompute(spark).localCheckpoint(eager=True)
    in_scope = fresh.filter(F.col(partition_col).isin(list(partition_values)))
    out_of_scope = fresh.count() - in_scope.count()
    covered = {
        r[0] for r in in_scope.select(partition_col).distinct().collect()
    }
    emptied = [v for v in partition_values if v not in covered]
    before = (
        spark.read.parquet(table_path)
        .filter(F.col(partition_col).isin(list(partition_values)))
        .count()
    )
    overwrite_partitions(in_scope, table_path, partition_col)
    if emptied:
        # Spark Hive-escapes special characters in partition DIRECTORY
        # names (':' -> '%3A', ...), so the on-disk name cannot be built by
        # naive interpolation. Instead, list the table's partition dirs and
        # match each one's UNESCAPED value (percent-decoding inverts the
        # escape) against the emptied set.
        from urllib.parse import unquote

        targets = {str(v) for v in emptied}
        prefix = f"{partition_col}="
        for entry in os.listdir(table_path):
            d = os.path.join(table_path, entry)
            if (
                entry.startswith(prefix)
                and os.path.isdir(d)
                and unquote(entry[len(prefix):]) in targets
            ):
                shutil.rmtree(d)
    after = (
        spark.read.parquet(table_path)
        .filter(F.col(partition_col).isin(list(partition_values)))
        .count()
    )
    return {
        "partitions": list(partition_values),
        "partitions_emptied": emptied,
        "rows_before": before,
        "rows_after": after,
        "rows_dropped_out_of_scope": out_of_scope,
    }

"""Incremental training-shard export: continuous corpus building.

The batch sink (``sources/export.py``) rewrites the full shard set each
run — right for a finished corpus, wasteful for a crawl that lands a few
files per hour. This stream appends each micro-batch under
``shard=<k>/epoch_id=<e>`` partitions instead:

- shard assignment is the SAME pure hash as the batch sink
  (``pmod(xxhash64(key), n)``), so a document lands in the same shard
  whichever path wrote it;
- each epoch writes only its own ``(shard, epoch_id)`` partitions, so an
  at-least-once replay of a batch overwrites its own partitions rather
  than duplicating (the epoch-store protocol, ``streaming/stores.py``);
- consumers either read the epoch-partitioned layout directly or run
  ``compact_export``, which folds every epoch through the BATCH sink —
  producing the audited ``_manifest.json`` + ``verify_export`` contract —
  and swaps it in with a crash-recoverable rename dance.

Compaction FINALIZES an export: it drops the epoch dimension, so run it
with the stream stopped (availableNow drain, like the other store
compactions) and point any continued streaming at a fresh incremental
path — appending new epoch partitions under a compacted layout would mix
two partition schemes in one directory.

Replay idempotence holds WITHIN one checkpoint lineage: a restart with a
fresh checkpoint re-processes arrivals under new epoch ids while the old
epoch partitions remain on disk. ``compact_export`` therefore refuses to
fold a store whose key repeats across epochs (or resolves each key to
its newest epoch with ``on_duplicate_keys="keep_latest_epoch"``), so
duplicates can never be laundered into a verify-clean manifest.

Scale: per batch one hash projection + one partitioned append; compaction
is one full read + the batch sink. Local-filesystem renames as elsewhere;
on an object store swap for the Hadoop FileSystem rename/delete.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.sources.publish import (
    prepare_staging,
    publish_staged,
)
from komodo_data_spark.streaming.stores import (
    file_stream,
    overwrite_partitions,
    read_store,
    start_batches,
)


def export_batch(
    batch_df: DataFrame,
    epoch_id: int,
    path: str,
    n_shards: int,
    key_col: str = "doc_id",
) -> None:
    """Write one micro-batch's rows into their hash shards under this
    epoch's partitions."""
    for reserved in ("shard", "epoch_id"):
        if reserved in batch_df.columns:
            raise ValueError(
                f"input batch already has a {reserved!r} column; rename it "
                "— the export would silently clobber it (same contract as "
                "the batch sink)"
            )
    sharded = batch_df.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
    ).withColumn("epoch_id", F.lit(int(epoch_id)))
    overwrite_partitions(sharded, path, "shard", "epoch_id")


def start_incremental_export(
    spark: SparkSession,
    docs_dir: str,
    export_path: str,
    checkpoint: str,
    n_shards: int = 8,
    key_col: str = "doc_id",
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    return start_batches(
        file_stream(spark, docs_dir, max_files_per_trigger),
        checkpoint,
        lambda b, e: export_batch(b, e, export_path, n_shards, key_col),
    )


def compact_export(
    spark: SparkSession,
    path: str,
    n_shards: int = 8,
    key_col: str = "doc_id",
    token_col: str | None = None,
    on_duplicate_keys: str = "error",
) -> dict | None:
    """Fold an epoch-partitioned incremental export into the batch sink's
    audited form (single shard set + ``_manifest.json``) and swap it into
    place. Returns the manifest, or None when the export never accumulated
    a row (missing path / zero-partition dir from empty-batch writes —
    the same nothing-to-fold shape ``stores.compact_distinct_store``
    no-ops on).

    ``on_duplicate_keys`` guards against stale epochs: a restart with a
    FRESH checkpoint re-processes arrivals under new epoch ids while the
    old epoch partitions remain on disk — replay idempotence only holds
    within one checkpoint lineage. ``"error"`` (default) refuses to fold a
    store whose ``key_col`` repeats across epochs; ``"keep_latest_epoch"``
    resolves each key to its highest-epoch row (the re-crawl semantics)
    before folding.

    The directory swap rides the shared write→audit→publish protocol
    (``sources/publish.py``): a crashed compaction is healed — forward or
    back — by ``prepare_staging`` on the next run.
    """
    from komodo_data_spark.sources.export import export_training_shards

    if on_duplicate_keys not in ("error", "keep_latest_epoch"):
        raise ValueError(f"unknown on_duplicate_keys={on_duplicate_keys!r}")
    staging = prepare_staging(path)  # heals prior crashes; path live after
    raw = read_store(spark, path)
    if raw is None:
        return None
    if "epoch_id" in raw.columns:
        # count(key_col) skips NULLs, so the duplicate test compares
        # non-null rows to distinct non-null keys — a NULL-keyed row must
        # not read as "duplicate" (review finding: it tripped the error on
        # a clean store, and keep_latest_epoch would then collapse ALL
        # NULL-keyed rows into one). NULL keys themselves are refused
        # outright: the export is keyed, and neither keeper policy has a
        # defensible meaning for an unkeyed row.
        counts = raw.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(key_col).alias("n_keyed"),
            F.countDistinct(key_col).alias("nk"),
        ).collect()[0]
        if counts["n"] != counts["n_keyed"]:
            raise ValueError(
                f"{counts['n'] - counts['n_keyed']} rows with NULL "
                f"{key_col} in the incremental export; a keyed export "
                "cannot dedup or shard them — clean the source (they were "
                "written by an upstream bug)"
            )
        if counts["n_keyed"] != counts["nk"]:
            if on_duplicate_keys == "error":
                raise ValueError(
                    f"{counts['n_keyed'] - counts['nk']} duplicate {key_col} rows "
                    "across epochs (stale partitions from a fresh-checkpoint "
                    "restart?); pass on_duplicate_keys='keep_latest_epoch' "
                    "to resolve each key to its newest row"
                )
            from pyspark.sql import Window

            w = Window.partitionBy(key_col).orderBy(F.desc("epoch_id"))
            raw = (
                raw.withColumn("rn_", F.row_number().over(w))
                .filter(F.col("rn_") == 1)
                .drop("rn_")
            )
    df = raw.drop("shard", "epoch_id")
    manifest = export_training_shards(
        df, staging, n_shards=n_shards, key_col=key_col, token_col=token_col
    )
    publish_staged(path)
    return manifest

"""The epoch-store protocol: how every incremental stream writes, starts,
reads, folds and recovers its parquet store. Store modules keep only
their per-batch kernel and their read-side math; the mechanics below are
the single copy.

Write. A micro-batch tags its rows with ``epoch_id`` (the foreachBatch
batch id) and writes them with :func:`overwrite_partitions`, a dynamic
partition overwrite: only the partitions present in the frame are
replaced. ``foreachBatch`` is at-least-once — a crash between the store
write and the checkpoint commit replays the batch under the same epoch —
so the replay overwrites its own ``epoch_id=N`` partition instead of
double-counting. The guarantee holds within one checkpoint lineage: a
fresh checkpoint reuses epoch ids from 0, so it must target a fresh store
path. Published model stores use the same write with a ``version=N``
partition, and backfills with any partition column.

Start. :func:`file_stream` is the file source (one footer peek for the
schema, no data scan; ``max_files`` sets the micro-batch granularity) and
:func:`start_batches` drains it through a per-batch function with an
AvailableNow trigger and a checkpoint.

Read. :func:`read_store` returns ``None`` for a store that never
accumulated a fact: a missing path, or a directory holding only the
metadata of empty-frame writes. Any other read failure (corrupt footer,
IO, permissions) propagates, so foreachBatch fails and retries the epoch
rather than committing output computed without history.
:func:`read_store_or_empty` and :func:`require_store` are the two
policies on top of it: absence as an empty frame, or absence as a
precondition error at ``start_*()`` time.

Fold. Epoch partitions accumulate one per batch, so retention folds them
into the reserved ``epoch_id=-1`` base partition. DISTINCT-mergeable fact
stores (bands, blocks, segments, postings, ANN rows) use
:func:`compact_distinct_store`; the fold is idempotent, but a store whose
per-batch output is not monotone must keep the highest epoch — the only
one that can be uncommitted — out of the fold (``keep_max_epoch``) or
bound it by the committed batch id (``committed_through``). Sum- and
sketch-mergeable stores use :func:`compact_fold_store`, whose marker
protocol makes a fold that crashes at any point safe to re-run.

Recover. :func:`compact_fold_store` stages the new base into the scratch
``epoch_id=-2`` partition (``_TMP_EPOCH``), then atomically installs a
marker naming exactly the epochs it folded, then prunes those epochs and
renames the scratch over the base. :func:`_recover_compaction` finishes
or discards an interrupted fold; :func:`read_fold_store` runs it before
every read and never returns the scratch rows.

Pruning and renames use the local filesystem API; on an object store,
swap them for the Hadoop FileSystem delete/rename, same contract. Run the
folds while the store's stream is paused.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

_MISSING_STORE_CONDITIONS = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
#: Scratch partition a fold stages its new base into. Never a real epoch
#: (stream epochs are >= 0; -1 is the committed base).
_TMP_EPOCH = -2
#: Underscore-prefixed so Spark's parquet listing ignores it (like _SUCCESS).
_INFLIGHT_MARKER = "_compaction_inflight.json"


def overwrite_partitions(df: DataFrame, path: str, *cols: str) -> None:
    """Write ``df`` to ``path`` partitioned by ``cols``, replacing only the
    partitions ``df`` holds (dynamic partition overwrite)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )


def start_batches(
    stream_df: DataFrame,
    checkpoint: str,
    fn: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Drain ``stream_df`` through ``fn(batch_df, epoch_id)`` with an
    AvailableNow trigger."""
    return (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(fn)
        .trigger(availableNow=True)
        .start()
    )


def file_stream(spark: SparkSession, path: str, max_files: int) -> DataFrame:
    """File-source stream over a parquet directory, ``max_files`` files per
    micro-batch. The schema comes from a batch footer peek."""
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """The store at ``path``, or None if it never accumulated a fact."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() not in _MISSING_STORE_CONDITIONS:
            raise
        return None


def read_store_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read a store whose absence is a legitimate state (e.g. the
    k-anonymity held area before any record was parked) as an EMPTY frame
    of ``schema``. For stores whose absence is a misconfiguration, use
    :func:`require_store`."""
    if read_store(spark, path) is None:
        return spark.createDataFrame([], schema)
    # typed by the caller's schema, not the inferred one
    return spark.read.schema(schema).parquet(path)


def require_store(spark: SparkSession, path: str, what: str) -> None:
    """Fail FAST at ``start_*()`` time if a store a streaming gate depends
    on was never published, instead of killing the query with a bare
    path-not-found inside the first micro-batch."""
    if read_store(spark, path) is None:
        raise RuntimeError(
            f"{what} store at '{path}' has never been published — "
            f"publish it before starting the gate (empty or missing path)"
        )


def compact_distinct_store(
    spark: SparkSession,
    store_path: str,
    cols: Sequence[str],
    keep_max_epoch: bool = False,
    committed_through: int | None = None,
) -> int:
    """Fold epoch partitions of a DISTINCT-mergeable store into the
    ``epoch_id=-1`` base. Returns the number of epochs folded.

    ``committed_through`` folds only epochs <= that bound (use the last
    committed batch id from StreamingQueryProgress). Otherwise
    ``keep_max_epoch=True`` excludes the highest epoch — the only one
    that can be uncommitted. With neither, every epoch folds.
    """
    store = read_store(spark, store_path)
    if store is None:
        return 0
    epochs = sorted(
        r["epoch_id"]
        for r in store.select("epoch_id").distinct().collect()
        if r["epoch_id"] != -1
    )
    if committed_through is not None:
        epochs = [e for e in epochs if e <= committed_through]
    elif keep_max_epoch and epochs:
        epochs = epochs[:-1]
    if not epochs:
        return 0
    base = (
        store.filter(
            (F.col("epoch_id") == -1) | F.col("epoch_id").isin(epochs)
        )
        .select(*cols)
        .distinct()
        .withColumn("epoch_id", F.lit(-1))
        .localCheckpoint(eager=True)
    )
    overwrite_partitions(base, store_path, "epoch_id")
    for e in epochs:
        shutil.rmtree(os.path.join(store_path, f"epoch_id={e}"))
    return len(epochs)


def _recover_compaction(store_path: str) -> None:
    """Bring the store to a consistent state after a crash at ANY point of a
    prior compaction, then (re)enter the finalize steps if a committed fold
    is pending. Doubles as the finalize path for a live compaction — one
    code path, every step idempotent:

    - tmp partition WITHOUT marker  → the fold crashed mid-write; originals
      are intact, so the partial tmp is discarded.
    - marker + tmp                  → the fold committed; delete exactly the
      epochs listed in the marker (idempotent — some may already be gone),
      drop the old base, rename tmp → base, drop marker.
    - marker WITHOUT tmp            → crash after the rename; just drop the
      marker.

    The marker records the exact epoch list folded, so epochs that arrive
    AFTER a crashed compaction (stream resumed before the re-run) are never
    mistaken for folded ones and never deleted unfolded.
    """
    marker = os.path.join(store_path, _INFLIGHT_MARKER)
    tmp_dir = os.path.join(store_path, f"epoch_id={_TMP_EPOCH}")
    base_dir = os.path.join(store_path, "epoch_id=-1")
    if os.path.exists(marker + ".tmp"):
        os.remove(marker + ".tmp")  # crashed mid marker write; orphan
    if not os.path.exists(marker):
        if os.path.isdir(tmp_dir):
            shutil.rmtree(tmp_dir)
        return
    try:
        with open(marker) as fh:
            folded = json.load(fh)["epochs"]
    except (ValueError, KeyError):
        # Unreadable marker = the marker write itself crashed. The marker
        # is installed by atomic rename AFTER the fold completes and the
        # prune only starts once a valid marker exists, so the originals
        # are intact: discard marker + tmp and let the caller refold.
        os.remove(marker)
        if os.path.isdir(tmp_dir):
            shutil.rmtree(tmp_dir)
        return
    if os.path.isdir(tmp_dir):
        for e in folded:
            d = os.path.join(store_path, f"epoch_id={e}")
            if os.path.isdir(d):
                shutil.rmtree(d)
        if os.path.isdir(base_dir):
            shutil.rmtree(base_dir)
        os.rename(tmp_dir, base_dir)
    os.remove(marker)


def read_fold_store(spark: SparkSession, store_path: str) -> DataFrame | None:
    """The live rows (base + epochs) of a :func:`compact_fold_store` store,
    after healing any interrupted fold; None if it never accumulated a
    fact. The scratch partition holds a full copy of every count, so it
    is excluded even if recovery could not remove it."""
    _recover_compaction(store_path)
    store = read_store(spark, store_path)
    if store is None:
        return None
    return store.filter(F.col("epoch_id") != _TMP_EPOCH)


def compact_fold_store(store_path: str, spark: SparkSession, fold) -> int:
    """The marker-protocol fold, fold-function generic: ``fold(rows)``
    receives every base+epoch row (epoch_id included) and must return the
    new O(1) base frame WITHOUT epoch_id. Used by the sketch store
    (approx_top_k_combine) and the sum-mergeable counter stores (groupBy +
    sum); a fold without the marker double-counts on crash for any
    non-DISTINCT merge. Returns the number of epochs folded.
    """
    _recover_compaction(store_path)
    store = read_store(spark, store_path)
    if store is None:
        return 0
    epochs = [
        r["epoch_id"]
        for r in store.select("epoch_id").distinct().collect()
        if r["epoch_id"] != -1
    ]
    if not epochs:
        return 0
    # materialize BEFORE overwriting: the fold must not lazily re-read
    # partitions mid-swap
    base = (
        fold(store)
        .withColumn("epoch_id", F.lit(_TMP_EPOCH))
        .localCheckpoint(eager=True)
    )
    overwrite_partitions(base, store_path, "epoch_id")
    # marker install is ATOMIC (tmp write + rename): a crash mid-write can
    # never leave a half-written marker that wedges recovery
    marker = os.path.join(store_path, _INFLIGHT_MARKER)
    with open(marker + ".tmp", "w") as fh:
        json.dump({"epochs": [int(e) for e in epochs]}, fh)
    os.rename(marker + ".tmp", marker)
    _recover_compaction(store_path)  # finalize: prune + swap + drop marker
    return len(epochs)

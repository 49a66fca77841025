"""Streaming k-anonymity RELEASE gate for customer-record ingestion.

The batch operator (``operators/pipeline_ops.customers_k_anonymity``)
audits a finished table for quasi-identifier classes below the K_ANON
floor; a release pipeline wants that verdict at the edge, BEFORE a
record reaches the exportable store. k-anonymity is a corpus property —
a class only ever grows — so the streaming-correct form is
hold-and-release, not drop: a record is released iff its QI class's
ACCUMULATED count (every prior epoch's store partitions plus the current
batch) has reached k at its ingestion epoch; otherwise it parks in the
held area. Both sides derive the class through ONE kernel
(``pipeline_ops.qi_classes`` / ``QI_COLS``), the repo's shared-kernel
rule (PII, compression, decontamination gates) — gate and audit cannot
disagree about a record's equivalence class by construction.

Whole classes release ATOMICALLY: when a class's accumulated count
crosses k at epoch E, the released partition for E carries BOTH the
current batch's members AND every earlier-parked member of that class
(semi-joined from the held area in the same epoch). This is what makes
the released store itself k-anonymous at every instant — releasing only
the crossing batch's rows would publish a class with as few as one
record until an out-of-band promotion job ran (round-6 advice finding).
Each record's ``origin_epoch`` column preserves its ingestion epoch;
``epoch_id`` (the partition) is the epoch that RELEASED it.

Every write follows the epoch-store protocol (``streaming/stores.py``):

- class-count store: each batch writes ITS OWN class counts into its
  epoch partition, so the accumulated fold (groupBy-sum at read) never
  double-counts a replay.
- released / held: one partition per epoch. The promotion set is
  deterministic on replay because it reads only STRICT PRIOR state: held
  partitions with epoch_id < E and the crossing test compares the store
  folded through E against the store folded through E-1 (both sides
  exclude anything epoch E itself might have half-written before a
  crash). A class crosses k exactly once — counts
  only grow and every parked record's class was below k at its origin —
  so no held record can be promoted twice. Held partitions are
  append-only (promotion never rewrites them); the live parked set is
  the ``still_held`` view (held minus releasable classes).

Scale: the store folds |classes| x |epochs| rows — bounded by the QI
domain, not the record count (the same O(1)-fold retention argument as
the mix counter store; compact epochs into a base partition on the same
schedule if releases run for years). The verdict join broadcasts the
folded class counts; record rows never shuffle. Per-batch latency is
flat over stream lifetime (BENCH_STREAM row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.operators.pipeline_ops import K_ANON, QI_COLS, qi_classes
from komodo_data_spark.streaming.stores import (
    file_stream,
    overwrite_partitions,
    read_store,
    read_store_or_empty,
    start_batches,
)


def accumulated_class_counts(spark: SparkSession, store_path: str) -> DataFrame:
    """Fold every published epoch's class counts: (QI_COLS..., acc_n)."""
    return (
        spark.read.parquet(store_path)
        .groupBy(*QI_COLS)
        .agg(F.sum("n").cast("long").alias("acc_n"))
    )


def k_anonymity_gate_batch(
    batch_df: DataFrame,
    epoch_id: int,
    store_path: str,
    released_path: str,
    held_path: str,
    k: int = K_ANON,
) -> None:
    spark = batch_df.sparkSession
    qi = qi_classes(batch_df).localCheckpoint(eager=True)
    # 1. publish THIS epoch's class counts (idempotent: replay overwrites
    #    the same partition with the same counts)
    counts = qi.groupBy(*QI_COLS).agg(F.count(F.lit(1)).alias("n"))
    overwrite_partitions(
        counts.withColumn("epoch_id", F.lit(int(epoch_id))), store_path, "epoch_id"
    )
    # 2. verdict against the accumulated counts (now includes this epoch);
    #    broadcast: the folded frame is QI-domain-sized, never record-sized
    store = spark.read.parquet(store_path)
    acc = store.groupBy(*QI_COLS).agg(F.sum("n").cast("long").alias("acc_n"))
    annotated = (
        qi.join(F.broadcast(acc), list(QI_COLS), "left")
        .withColumn("releasable", F.coalesce("acc_n", F.lit(0)) >= F.lit(k))
        .drop("acc_n")
        .withColumn("epoch_id", F.lit(int(epoch_id)))
        # output branches must not re-run the verdict join
        .localCheckpoint(eager=True)
    )
    held_new = annotated.filter(~F.col("releasable")).drop("releasable")
    overwrite_partitions(held_new, held_path, "epoch_id")
    # 3. atomic whole-class release: classes that CROSSED k at this epoch
    #    (folded-through-E >= k, folded-through-E-1 < k) pull their parked
    #    members out of held in the SAME released partition. Both inputs
    #    are strict-prior state (epoch_id < E), so a replayed epoch
    #    reproduces the identical promotion set even after a crash that
    #    half-wrote this epoch's partitions.
    prev = (
        store.filter(F.col("epoch_id") < F.lit(int(epoch_id)))
        .groupBy(*QI_COLS)
        .agg(F.sum("n").cast("long").alias("prev_n"))
    )
    crossed = (
        acc.join(prev, list(QI_COLS), "left")
        .filter(
            (F.col("acc_n") >= F.lit(k))
            & (F.coalesce("prev_n", F.lit(0)) < F.lit(k))
        )
        .select(*QI_COLS)
    )
    held_prior = read_store_or_empty(spark, held_path, held_new.schema).filter(
        F.col("epoch_id") < F.lit(int(epoch_id))
    )
    promoted = (
        held_prior.join(F.broadcast(crossed), list(QI_COLS), "left_semi")
        .withColumnRenamed("epoch_id", "origin_epoch")
        .withColumn("epoch_id", F.lit(int(epoch_id)))
    )
    released = (
        annotated.filter(F.col("releasable"))
        .drop("releasable")
        .withColumn("origin_epoch", F.lit(int(epoch_id)))
        .unionByName(promoted)
    )
    overwrite_partitions(released, released_path, "epoch_id")


def start_k_anonymity_gate(
    spark: SparkSession,
    customers_dir: str,
    store_path: str,
    released_path: str,
    held_path: str,
    checkpoint: str,
    k: int = K_ANON,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Gate a customer file-source stream on accumulated k-anonymity."""
    return start_batches(
        file_stream(spark, customers_dir, max_files_per_trigger),
        checkpoint,
        lambda b, e: k_anonymity_gate_batch(
            b, e, store_path, released_path, held_path, k
        ),
    )


def still_held(
    spark: SparkSession,
    store_path: str,
    held_path: str,
    k: int = K_ANON,
    schema=None,
) -> DataFrame:
    """The live parked set: held-area records whose QI class is STILL
    below k. Held partitions are append-only (the gate promotes by
    writing into released, never by rewriting held), so consumers read
    the parked backlog through this view — held rows of releasable
    classes were already published at their class's crossing epoch. One
    broadcast anti-join through the same kernel columns.

    A held dir holding only ``_SUCCESS`` (every epoch released everything
    — empty partitioned writes emit no part files) is a LEGITIMATE state:
    pass ``schema`` (the gate's held-row schema) to get the empty view
    back instead of UNABLE_TO_INFER_SCHEMA; without a schema the
    condition raises a precondition error naming the fix, mirroring
    ``require_store``."""
    ok = accumulated_class_counts(spark, store_path).filter(
        F.col("acc_n") >= F.lit(k)
    )
    if schema is not None:
        held = read_store_or_empty(spark, held_path, schema)
    else:
        held = read_store(spark, held_path)
        if held is None:
            raise RuntimeError(
                f"held store at '{held_path}' has no readable partitions "
                f"(all epochs released, or never parked) — pass "
                f"still_held(..., schema=<held-row schema>) to get the "
                f"empty parked view"
            )
    return held.join(
        F.broadcast(ok.select(*QI_COLS)), list(QI_COLS), "left_anti"
    )

"""Streaming zlib compression-ratio gate for document ingestion.

The batch operator (``operators/text_analysis.text_compression_ratio``)
scores a finished corpus; an ingestion pipeline wants the same verdict at
the edge: documents whose zlib ratio falls outside the keep band
(degenerate repetition, random/binary-like payloads) are quarantined
before they land in the clean corpus. Both sides call ONE scoring
definition (``text_analysis.zlib_score_lists``), so the gate and the
batch scorer cannot disagree about any document — the same
shared-definition rule as the PII gate (``expectations.docs_rules``)
and the band/block stores.

Per micro-batch: annotate every row IN PLACE with a pass-through
mapInPandas kernel (full batch schema + the ratio/keep verdicts — scored
by the same ``zlib_score_lists`` the batch operator uses), split
keep/quarantine, and write each side to the batch's own ``epoch_id=N``
partition (the epoch-store protocol, ``streaming/stores.py``).
Pass-through, NOT a doc_id re-join (review finding):
a join would multiply duplicate doc_ids within a batch (a re-crawl
delivering the same document twice — the very input the dedup stack
exists for) and silently drop NULL-keyed rows from both outputs; a gate
splits rows, it never drops or manufactures them.

Scale: one Python map stage, zero shuffle. Python appears only where
zlib demands it — the one sanctioned row-bytes stage.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import BooleanType, DoubleType, StructField, StructType

from komodo_data_spark.operators.text_analysis import zlib_score_lists
from komodo_data_spark.streaming.stores import (
    file_stream,
    overwrite_partitions,
    start_batches,
)


def compression_gate_batch(
    batch_df: DataFrame,
    epoch_id: int,
    clean_path: str,
    quarantine_path: str,
) -> None:
    import pandas as pd

    out_schema = StructType(
        list(batch_df.schema.fields)
        + [
            StructField("compression_ratio", DoubleType()),
            StructField("keep", BooleanType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            _nb, _nz, ratio, keep = zlib_score_lists(pdf["text"].tolist())
            out = pdf.copy()
            out["compression_ratio"] = pd.array(ratio, dtype="float64")
            out["keep"] = keep
            yield out

    annotated = (
        batch_df.mapInPandas(score, schema=out_schema)
        .withColumn("epoch_id", F.lit(int(epoch_id)))
        # two output branches must not re-read the source batch (or re-run
        # the Python stage); same contract as expectations.gate_batch
        .localCheckpoint(eager=True)
    )
    keep = annotated.filter(F.col("keep")).drop("keep")
    overwrite_partitions(keep, clean_path, "epoch_id")
    drop = annotated.filter(~F.col("keep")).drop("keep")
    overwrite_partitions(drop, quarantine_path, "epoch_id")


def start_docs_compression_gate(
    spark: SparkSession,
    docs_dir: str,
    clean_path: str,
    quarantine_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Gate a documents file-source stream on the zlib keep band."""
    return start_batches(
        file_stream(spark, docs_dir, max_files_per_trigger),
        checkpoint,
        lambda b, e: compression_gate_batch(b, e, clean_path, quarantine_path),
    )

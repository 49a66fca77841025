"""Streaming data-quality expectations with quarantine.

The batch form (operators/profiling.orders_expectations) AUDITS a landed
table; a pipeline's ingestion edge instead needs to GATE rows before they
land: rows passing every rule flow to the clean table, violators land in a
quarantine table annotated with exactly which rules they broke (so triage
is a groupBy, not a re-scan). Rules are SQL boolean expressions — the same
strings the batch auditor uses, evaluated map-side in one codegen'd
projection; nothing about the gate shuffles.

Per-epoch idempotence: both outputs write to the epoch's own partition
(the epoch-store protocol, ``streaming/stores.py``). At 100 TB the gate
adds one array projection to the ingest scan; quarantine volume is
violation-bounded, not input-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.streaming.stores import (
    file_stream,
    overwrite_partitions,
    start_batches,
)

#: Expectations for the events stream: same string-predicate contract as
#: profiling._ORDERS_RULES.
EVENTS_RULES: dict[str, str] = {
    "not_null_user": "user_id IS NOT NULL",
    "known_type": "event_type IN ('view', 'click', 'purchase', 'signup')",
    "value_in_range": "value >= 0 AND value <= 1000",
}


def annotate(df: DataFrame, rules: dict[str, str]) -> DataFrame:
    """Attach ``failed_rules`` (array of rule names, empty = clean) — one
    map-side projection, shared by the stream gate and the batch twin."""
    checks = [
        F.when(~F.expr(ok), F.lit(rule)) for rule, ok in sorted(rules.items())
    ]
    return df.withColumn("failed_rules", F.array_compact(F.array(*checks)))


def gate_batch(
    batch_df: DataFrame,
    epoch_id: int,
    rules: dict[str, str],
    clean_path: str,
    quarantine_path: str,
) -> None:
    annotated = annotate(batch_df, rules).withColumn(
        "epoch_id", F.lit(int(epoch_id))
    )
    # localCheckpoint: two output branches must not re-read the source batch
    annotated = annotated.localCheckpoint(eager=True)
    clean = annotated.filter(F.size("failed_rules") == 0).drop("failed_rules")
    overwrite_partitions(clean, clean_path, "epoch_id")
    bad = annotated.filter(F.size("failed_rules") > 0)
    overwrite_partitions(bad, quarantine_path, "epoch_id")


def start_expectations_stream(
    spark: SparkSession,
    events_dir: str,
    clean_path: str,
    quarantine_path: str,
    checkpoint: str,
    rules: dict[str, str] | None = None,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    from komodo_data_spark.streaming.windows import events_stream

    rules = EVENTS_RULES if rules is None else rules
    return start_batches(
        events_stream(spark, events_dir, max_files_per_trigger),
        checkpoint,
        lambda b, e: gate_batch(b, e, rules, clean_path, quarantine_path),
    )


def docs_rules() -> dict[str, str]:
    """Expectations for a documents ingestion stream. The PII rule reuses
    the batch scan/redact pattern bank (operators/pipeline_ops) so the
    streaming gate and the batch scanner can never disagree about what
    counts as PII: a document with any unredacted email/phone/IPv4 is
    quarantined instead of landing in the clean corpus."""
    from komodo_data_spark.operators.pipeline_ops import (
        _PII_EMAIL,
        _PII_IPV4,
        _PII_PHONE,
    )

    def hits(pat: str) -> str:
        # Spark SQL string literals treat backslash as an escape ('\b' would
        # become backspace); double them so the parsed literal is the same
        # pattern the batch DataFrame API uses.
        return f"size(regexp_extract_all(text, '{pat.replace(chr(92), chr(92) * 2)}', 0))"

    return {
        "nonempty_text": "text IS NOT NULL AND length(trim(text)) > 0",
        "no_unredacted_pii": (
            f"{hits(_PII_EMAIL)} + {hits(_PII_PHONE)} + {hits(_PII_IPV4)} = 0"
        ),
    }


def start_docs_expectations_stream(
    spark: SparkSession,
    docs_dir: str,
    clean_path: str,
    quarantine_path: str,
    checkpoint: str,
    rules: dict[str, str] | None = None,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Gate a documents file-source stream through ``docs_rules()`` —
    same epoch-idempotent clean/quarantine split as the events gate."""
    rules = docs_rules() if rules is None else rules
    return start_batches(
        file_stream(spark, docs_dir, max_files_per_trigger),
        checkpoint,
        lambda b, e: gate_batch(b, e, rules, clean_path, quarantine_path),
    )

"""Python UDTF surface (Spark 4 table functions).

The reference has zero UDFs/UDTFs (SURVEY.md §2.11) — its logic is all SQL
expressions — and this engine keeps the hot path expression-only for the
same reason (whole-stage codegen; see operators/pipeline_ops.doc_chunks for
the expression-based chunker). This module exists to cover the *API
surface*: when a user-defined transform genuinely can't be expressed in
Catalyst (external tokenizers, bespoke parsers), the Spark-4 UDTF is the
supported extension point, and the engine registers one end-to-end —
lateral-joined in SQL, driver-checked against a DuckDB oracle.

Scale notes: a UDTF runs row-at-a-time in a Python worker per task — fine
for low-volume side paths, wrong for corpus-scale hot loops (use Arrow-
batched ``mapInPandas`` or pure expressions there). The sentence splitter
below is deliberately simple so the oracle can restate it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import udtf

from komodo_data_spark.registry import query


@udtf(returnType="sent_idx int, sentence string, n_chars int")
class SentenceSplit:
    """Split text on '.' into trimmed, non-empty sentence spans.

    Trim strips SPACES only (str.strip(' ')), mirroring the oracle's
    ``trim(x, ' ')`` — full-whitespace strip would silently diverge on
    tabs/newlines.
    """

    def eval(self, text):
        if text is None:
            return
        idx = 0
        for part in text.split("."):
            s = part.strip(" ")
            if s:
                yield idx, s, len(s)
                idx += 1


def register_udtfs(spark: SparkSession) -> None:
    """Register all engine UDTFs on the session (idempotent)."""
    spark.udtf.register("sentence_split", SentenceSplit)


@query
def udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence spans per document via the registered UDTF, lateral-joined —
    the canonical `FROM t, LATERAL udtf(t.col)` usage."""
    from komodo_data_spark.sources.tables import load_table

    register_udtfs(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_for_udtf"
    )
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence, s.n_chars
        FROM documents_for_udtf d, LATERAL sentence_split(d.text) s
        """
    )


def udtf_sentences_oracle() -> str:
    return """
    WITH p AS (
      SELECT doc_id, string_split(text, '.') AS parts FROM documents
    ), e AS (
      SELECT doc_id,
             unnest(generate_series(1, len(parts))) AS i,
             parts
      FROM p
    ), f AS (
      SELECT doc_id, i, trim(parts[i], ' ') AS sentence
      FROM e
      WHERE trim(parts[i], ' ') <> ''
    )
    SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS sent_idx,
           sentence,
           length(sentence) AS n_chars
    FROM f
    """

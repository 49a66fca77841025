"""Composed corpus-cleaning pipeline over ``documents`` — the end-to-end
shape of a training-data preparation job (north-star extension): quality
gate + exact-dedup keep-first + percentile telemetry, each stage a reuse of
an operator defined elsewhere in this package.

Scale notes: the dedup keeper selection is a window over the content
fingerprint (one shuffle on a 32-char key); the quality gate is a pure map
stage evaluated in the same scan pass. Order matters at 100 TB — the cheap
map-side quality filter runs FIRST so the dedup shuffle only carries
survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from komodo_data_spark.functions.text_features import sql_tokens, tokens
from komodo_data_spark.registry import query
from komodo_data_spark.sources.tables import load_events, load_table

MIN_TOKENS = 10
MIN_QUALITY = 0.3


@query
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving documents after quality gate + exact-dedup keep-first.

    Output: (doc_id, content_fp, n_tokens, quality_score) for every doc that
    (a) has ≥ 10 tokens, (b) scores ≥ 0.3 on the composite quality metric,
    and (c) is the lowest-doc_id member of its normalized-content group.
    """
    from komodo_data_spark.sources.tables import load_spread

    d = load_spread(spark, sf_dir, "documents").withColumn(
        "toks", tokens()
    )
    n_tokens = F.size("toks")
    ttr = F.size(F.array_distinct("toks")).cast("double") / n_tokens
    quality = F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * (0.5 + 0.5 * ttr)
    gated = (
        d.select(
            "doc_id",
            F.md5(F.concat_ws(" ", "toks")).alias("content_fp"),
            n_tokens.alias("n_tokens"),
            quality.alias("quality_score"),
        )
        .filter(
            (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("quality_score") >= MIN_QUALITY)
        )
    )
    w = Window.partitionBy("content_fp").orderBy("doc_id")
    return (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "content_fp", "n_tokens", "quality_score")
    )


def corpus_clean_oracle() -> str:
    t = sql_tokens()
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    scored AS (
      SELECT doc_id,
        md5(array_to_string(toks, ' ')) AS content_fp,
        len(toks) AS n_tokens,
        least(len(toks) / 100.0, 1.0)
          * (0.5 + 0.5 * (len(list_distinct(toks))::DOUBLE / len(toks)))
          AS quality_score
      FROM d
    ),
    gated AS (
      SELECT * FROM scored
      WHERE n_tokens >= {MIN_TOKENS} AND quality_score >= {MIN_QUALITY}
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY content_fp ORDER BY doc_id
      ) AS rn FROM gated
    )
    SELECT doc_id, content_fp, n_tokens, quality_score FROM ranked WHERE rn = 1
    """


@query
def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated p50/p90/p99 of ``value`` per event_type.

    Exact percentiles sort within each group (fine per-group at any scale
    since groups hash-partition); the sketch-based twin below trades
    exactness for mergeable fixed-size state — the 100 TB default.
    """
    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
        F.count(F.lit(1)).alias("n_events"),
    )


def event_value_percentiles_oracle() -> str:
    return """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """


@query(oracle=None)  # sketch percentiles: rows-only; exact twin is the anchor
def event_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (approx_percentile): mergeable bounded-memory
    state, the scale path. Rows-only driver check — the exact twin above
    pins semantics."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 1000)").alias("p50_approx"),
        F.expr("approx_percentile(value, 0.9, 1000)").alias("p90_approx"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --------------------------------------------------------------------------
# full preparation pipeline: quality -> decontaminate -> dedup -> split
# --------------------------------------------------------------------------

CONTAM_MAX = 0.25  # max tolerated benchmark-shingle overlap fraction


def corpus_prepare_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level form of ``corpus_prepare``: every surviving document with
    its (lang, n_tokens, quality_score, split) — the frame a training run
    actually consumes (feed it to ``sources.export.export_training_shards``
    for the sharded last mile; see the end-to-end test in
    tests/test_tables.py). ``corpus_prepare`` is its per-(split, lang)
    rollup and stays the oracle-paired registry entry.
    """
    from komodo_data_spark.functions.text_features import shingles
    from komodo_data_spark.sources.tables import load_spread
    from komodo_data_spark.operators.pipeline_ops import (
        _BENCH_MOD,
        _CONTAM_N,
        _TRAIN_END,
        _VAL_END,
        _bucket_col,
    )
    from komodo_data_spark.plans import exploded

    d = load_spread(spark, sf_dir, "documents").withColumn(
        "toks", tokens()
    )
    n_tokens = F.size("toks")
    ttr = F.size(F.array_distinct("toks")).cast("double") / n_tokens
    quality = F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * (0.5 + 0.5 * ttr)
    gated = d.select(
        "doc_id",
        "lang",
        F.md5(F.concat_ws(" ", "toks")).alias("content_fp"),
        n_tokens.alias("n_tokens"),
        quality.alias("quality_score"),
        shingles(F.col("toks"), _CONTAM_N).alias("sh"),
    ).filter(
        (F.col("n_tokens") >= MIN_TOKENS) & (F.col("quality_score") >= MIN_QUALITY)
    )
    # benchmark shingle set comes from the FULL corpus (members excluded
    # from the output regardless of quality)
    bench_sh = (
        exploded(
            d.filter(F.col("doc_id") % _BENCH_MOD == 0).select(
                shingles(F.col("toks"), _CONTAM_N).alias("sh")
            ),
            F.col("sh"),
            "s",
        )
        .select("s")
        .distinct()
    )
    candidates = gated.filter(F.col("doc_id") % _BENCH_MOD != 0)
    hits = (
        exploded(candidates, F.col("sh"), "s", "doc_id")
        .join(F.broadcast(bench_sh), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    clean = (
        candidates.drop("sh")
        .join(hits, "doc_id", "left")
        .filter(
            F.coalesce(F.col("n_hit"), F.lit(0))
            <= F.lit(CONTAM_MAX)
            * F.greatest(F.col("n_tokens") - (_CONTAM_N - 1), F.lit(0))
        )
    )
    w = Window.partitionBy("content_fp").orderBy("doc_id")
    kept = clean.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    split = (
        F.when(_bucket_col() < _TRAIN_END, "train")
        .when(_bucket_col() < _VAL_END, "val")
        .otherwise("test")
    )
    return kept.select(
        "doc_id", "lang", "n_tokens", "quality_score", split.alias("split")
    )


@query
def corpus_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data preparation pipeline as ONE composed plan:
    quality gate -> benchmark decontamination -> exact-dedup keep-first ->
    deterministic split assignment, summarized per (split, lang).

    Stage order is the 100 TB order: the zero-shuffle quality gate runs
    first in the scan pass; decontamination joins survivors' shingles
    against the broadcast benchmark set; dedup shuffles only what remains
    (window over content_fp); the split label is a pure hash projection;
    the final rollup is tiny. One pipeline, four reused operator bodies,
    no driver-side loop anywhere — Catalyst fuses the map stages.
    """
    return (
        corpus_prepare_docs(spark, sf_dir)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.avg("quality_score").alias("avg_quality"),
        )
        .orderBy("split", "lang")
    )


def corpus_prepare_oracle() -> str:
    from komodo_data_spark.functions.text_features import sql_shingles
    from komodo_data_spark.operators.pipeline_ops import (
        _BENCH_MOD,
        _CONTAM_N,
        _TRAIN_END,
        _VAL_END,
    )

    t = sql_tokens()
    sh = sql_shingles("toks", _CONTAM_N)
    return f"""
    WITH d AS (SELECT doc_id, lang, {t} AS toks FROM documents),
    scored AS (
      SELECT doc_id, lang, toks,
        md5(array_to_string(toks, ' ')) AS content_fp,
        len(toks) AS n_tokens,
        least(len(toks) / 100.0, 1.0)
          * (0.5 + 0.5 * (len(list_distinct(toks))::DOUBLE / len(toks)))
          AS quality_score,
        {sh} AS sh
      FROM d
    ),
    gated AS (
      SELECT * FROM scored
      WHERE n_tokens >= {MIN_TOKENS} AND quality_score >= {MIN_QUALITY}
    ),
    bench AS (
      SELECT DISTINCT s
      FROM (SELECT {sh} AS sh FROM d WHERE doc_id % {_BENCH_MOD} = 0) b,
           unnest(b.sh) AS u(s)
    ),
    cand AS (SELECT * FROM gated WHERE doc_id % {_BENCH_MOD} <> 0),
    hits AS (
      SELECT c.doc_id, count(*) AS n_hit
      FROM cand c, unnest(c.sh) AS u(s) JOIN bench USING (s)
      GROUP BY c.doc_id
    ),
    clean AS (
      SELECT c.* FROM cand c LEFT JOIN hits h ON h.doc_id = c.doc_id
      WHERE coalesce(h.n_hit, 0)
        <= {CONTAM_MAX} * greatest(c.n_tokens - {_CONTAM_N - 1}, 0)
    ),
    kept AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY content_fp ORDER BY doc_id) rn
        FROM clean
      ) WHERE rn = 1
    ),
    labeled AS (
      SELECT doc_id, lang, n_tokens, quality_score,
        CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) % 100 < {_TRAIN_END} THEN 'train'
             WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) % 100 < {_VAL_END} THEN 'val'
             ELSE 'test' END AS split
      FROM kept
    )
    SELECT split, lang, count(*) AS n_docs,
           sum(n_tokens)::BIGINT AS total_tokens,
           avg(quality_score) AS avg_quality
    FROM labeled GROUP BY split, lang ORDER BY split, lang
    """


# --------------------------------------------------------------------------
# RAG-style sliding-window chunking
# --------------------------------------------------------------------------

CHUNK_SIZE = 32  # tokens per chunk
CHUNK_STRIDE = 24  # tokens between chunk starts (8-token overlap)


@query
def docs_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping fixed-stride token windows —
    the chunking stage every embedding/RAG pipeline runs before encoding
    (fixed grid: size CHUNK_SIZE, stride CHUNK_STRIDE, so consecutive
    chunks share CHUNK_SIZE−CHUNK_STRIDE tokens of context). Chunk
    starts sit on the deterministic grid 1, 1+stride, …; the final chunk
    is short when the doc runs out — grid membership, not content,
    decides boundaries, so re-chunking a grown corpus never moves
    existing chunk ids. Output: (doc_id, chunk_idx, start_tok,
    n_chunk_tokens, chunk_text).

    Scale design: pure map-side explode over the scan (sequence +
    slice + concat_ws are all codegen'd); no shuffle at all — the
    1000-executor plan is the same single stage.
    """
    from komodo_data_spark.functions.text_features import tokens

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    n = F.size("toks")
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(CHUNK_STRIDE))
    return (
        d.filter(n > 0)
        .select("doc_id", "toks", F.posexplode(starts).alias("chunk_idx", "s"))
        .select(
            "doc_id",
            "chunk_idx",
            F.col("s").alias("start_tok"),
            F.least(F.lit(CHUNK_SIZE), F.size("toks") - F.col("s") + 1).alias(
                "n_chunk_tokens"
            ),
            F.concat_ws(
                " ", F.slice("toks", F.col("s"), CHUNK_SIZE)
            ).alias("chunk_text"),
        )
    )


def docs_chunk_windows_oracle() -> str:
    from komodo_data_spark.functions.text_features import sql_tokens

    t = sql_tokens()
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    g AS (
      SELECT doc_id, toks, len(toks) AS n,
             generate_subscripts(range(1, greatest(len(toks), 1) + 1,
                                       {CHUNK_STRIDE}), 1) - 1 AS chunk_idx,
             unnest(range(1, greatest(len(toks), 1) + 1,
                          {CHUNK_STRIDE})) AS s
      FROM d WHERE len(toks) > 0
    )
    SELECT doc_id, chunk_idx::INT AS chunk_idx, s::INT AS start_tok,
           least({CHUNK_SIZE}, n - s + 1)::INT AS n_chunk_tokens,
           array_to_string(list_slice(toks, s, s + {CHUNK_SIZE} - 1), ' ')
             AS chunk_text
    FROM g
    """

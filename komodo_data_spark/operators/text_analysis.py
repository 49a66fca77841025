"""Text-analysis pack over the ``documents`` table (north-star extension).

The reference has no text operators (its whole surface is the XR telemetry
SQL in process.py); this pack supplies the language-ID / quality-scoring /
token-counting / fingerprinting layer a training-data pipeline needs
(SURVEY.md §2.12). Design rules:

- Every operator is a narrow projection + per-row array math: **no shuffle at
  all** except the final small groupBy in ``text_language_id``. At 100 TB
  these run as a single map stage over the parquet scan with column pruning
  (only ``doc_id``/``text``/``lang`` are read).
- Pure Catalyst expressions (split / higher-order array functions / md5) —
  no Python UDFs, so whole-stage codegen covers the entire plan.
- Each query has a DuckDB oracle twin built from the same formula via the
  shared builders in functions/text_features.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from komodo_data_spark.plans import exploded

from komodo_data_spark.functions.text_features import (
    LANG_STOPWORDS,
    QUALITY_STOPWORDS,
    shingles,
    sql_shingles,
    sql_tokens,
    tokens,
)
from komodo_data_spark.operators.model_memo import session_model_path, shared_fit
from komodo_data_spark.registry import query
from komodo_data_spark.sources.tables import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --------------------------------------------------------------------------
# token statistics
# --------------------------------------------------------------------------


@query
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts: whitespace tokens, distinct tokens,
    average token length, type-token ratio."""
    toks = tokens()
    d = _docs(spark, sf_dir).withColumn("toks", toks)
    return d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct_tokens"),
        (
            F.aggregate("toks", F.lit(0), lambda acc, t: acc + F.length(t)).cast(
                "double"
            )
            / F.size("toks")
        ).alias("avg_token_len"),
        (
            F.size(F.array_distinct("toks")).cast("double") / F.size("toks")
        ).alias("type_token_ratio"),
    )


def text_token_stats_oracle() -> str:
    t = sql_tokens()
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents)
    SELECT doc_id,
      len(toks) AS n_tokens,
      len(list_distinct(toks)) AS n_distinct_tokens,
      list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)
        AS avg_token_len,
      len(list_distinct(toks))::DOUBLE / len(toks) AS type_token_ratio
    FROM d
    """


#: Keep gate on NORMALIZED token entropy (H / ln(n_distinct), in [0, 1]):
#: degenerate docs (one token repeated, templated spam) sit near 0, natural
#: text near 1. Sized from the measured sf0.01 distribution (p1 ~ 0.93,
#: p5 ~ 0.94 — this synthetic corpus is uniformly natural, so the gate
#: trims only the degenerate tail, which is its job on a real crawl too).
ENTROPY_NORM_MIN = 0.5


#: Add-alpha mass for the frozen-model scorer's OOV handling: continuation
#: probabilities are smoothed over seen types + ONE shared unseen bucket,
#: so no scored bigram can hit probability zero.
KN_OOV_ALPHA = 1.0

#: TextRank geometry (Mihalcea & Tarau 2004, public method): damping,
#: fixed iteration count (matching graph_pagerank's convention of a fixed
#: unrolled power iteration), and the released keyword count.
TEXTRANK_D = 0.85
TEXTRANK_ITERS = 3
TEXTRANK_K = 20


@query
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TextRank keywords: weighted PageRank over the word
    co-occurrence graph (adjacent-token edges, stopwords and self-loops
    dropped), top TEXTRANK_K words — the unsupervised keyword extractor
    that complements the frequency-based ``text_tfidf_top_terms`` (TF-IDF
    rewards rarity; TextRank rewards centrality in the co-occurrence
    structure, which is why it surfaces topic words that appear in many
    contexts rather than quirky rare tokens).

    Scale design: the graph fold is one map-side-combinable pair count
    (vocab²-bounded, corpus-independent after the fold); each power
    iteration is the weighted-contribution join+aggregate of
    ``graph_pagerank``, one shuffle per round over the EDGE table (vocab-
    bounded, not corpus-bounded). Scores are released as integer
    nano-units (round(pr·1e9) — the text_unigram_lm micro-nats
    discipline), so the top-k selection and rank ties are decided on
    integers and the cross-engine comparison never rides a float ulp.
    """
    stop = list(QUALITY_STOPWORDS)
    pairs = _grams(_docs(spark, sf_dir)).filter(
        (F.col("u") != F.col("w"))
        & (F.col("u") != "")
        & (F.col("w") != "")
        & ~F.col("u").isin(stop)
        & ~F.col("w").isin(stop)
    )
    und = (
        pairs.select(
            F.least("u", "w").alias("a"), F.greatest("u", "w").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("wt"))
        # vocab²-bounded edge fold — the ONLY corpus-sized stage. It is
        # referenced twice by the union below, once by the n_nodes count
        # action, and once per power-iteration round; un-checkpointed,
        # each reference re-ran the corpus tokenize+explode+fold
        # (measured: 7 corpus passes in the unrolled plan, 54 Exchanges
        # → the round's largest recompute). Eager localCheckpoint keeps
        # the blocks GC-released, never session-lifetime.
        .localCheckpoint(eager=True)
    )
    directed = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "wt"
    ).union(und.select(F.col("b").alias("src"), F.col("a").alias("dst"), "wt"))
    # vocab-bounded; read by the count action, the rank seed, and every
    # iteration's contribution join — checkpointed so those reads are
    # block-local instead of re-shuffling the edge table each time
    wdeg = (
        directed.groupBy("src")
        .agg(F.sum("wt").alias("wdeg"))
        .localCheckpoint(eager=True)
    )
    n_nodes = wdeg.count()
    if n_nodes == 0:
        return spark.createDataFrame(
            [], "rank int, word string, score_q bigint"
        )
    ranks = wdeg.select(
        F.col("src").alias("word"), F.lit(1.0 / n_nodes).alias("pr")
    )
    for _ in range(TEXTRANK_ITERS):
        contribs = (
            directed.join(ranks, directed.src == ranks.word)
            .join(wdeg, "src")
            .select(
                "dst", (F.col("pr") * F.col("wt") / F.col("wdeg")).alias("c")
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = contribs.select(
            F.col("dst").alias("word"),
            (
                F.lit((1.0 - TEXTRANK_D) / n_nodes)
                + F.lit(TEXTRANK_D) * F.col("in_sum")
            ).alias("pr"),
        )
    scored = ranks.select(
        "word", F.round(F.col("pr") * F.lit(1e9), 0).cast("long").alias("score_q")
    )
    # Top-k via orderBy().limit(): plans TakeOrderedAndProject (per-
    # partition heaps + a k-row merge) instead of a row_number() over an
    # unpartitioned Window, which would single-task-sort the full
    # vocabulary frame — the anti-pattern docs_surrogate_keys documents.
    # The rank window below runs AFTER the limit, over exactly
    # TEXTRANK_K rows, so the only single-partition work is k-sized.
    topk = scored.orderBy(F.col("score_q").desc(), F.col("word")).limit(
        TEXTRANK_K
    )
    w_rank = Window.orderBy(F.col("score_q").desc(), F.col("word"))
    return topk.withColumn("rank", F.row_number().over(w_rank)).select(
        "rank", "word", "score_q"
    )


def text_textrank_keywords_oracle() -> str:
    t = sql_tokens()
    stop = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    d = TEXTRANK_D
    # Teleport numerator computed ONCE in Python and injected as a repr'd
    # double literal: the Spark side adds F.lit(1.0 - TEXTRANK_D) (the
    # Python double 0.15000000000000002), while `CAST(1.0 - 0.85 AS
    # DOUBLE)` in DuckDB is a DECIMAL subtraction = nearest-double 0.15 —
    # one ulp apart, enough to straddle a round(pr*1e9) half-unit. Same
    # shared-literal discipline as _ewma_power_tables.
    teleport = repr(1.0 - TEXTRANK_D)
    it_tpl = """
    {name} AS (
      SELECT dd.dst AS word,
             {teleport}::DOUBLE / any_value(n.n_nodes)
               + CAST({d} AS DOUBLE)
                 * sum(p.pr * dd.wt / g.wdeg) AS pr
      FROM directed dd
      JOIN {prev} p ON p.word = dd.src
      JOIN wdeg g ON g.src = dd.src
      CROSS JOIN n
      GROUP BY dd.dst
    )"""
    its = ",".join(
        it_tpl.format(
            name=f"it{i + 1}",
            prev=f"it{i}" if i else "pr0",
            d=d,
            teleport=teleport,
        )
        for i in range(TEXTRANK_ITERS)
    )
    return f"""
    WITH docs AS (SELECT {t} AS toks FROM documents),
    pairs AS (
      SELECT toks[i] AS u, toks[i + 1] AS w
      FROM docs, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS q(i)
    ),
    filt AS (
      SELECT u, w FROM pairs
      WHERE u <> w AND u <> '' AND w <> ''
        AND u NOT IN ({stop}) AND w NOT IN ({stop})
    ),
    und AS (
      SELECT least(u, w) AS a, greatest(u, w) AS b, count(*) AS wt
      FROM filt GROUP BY 1, 2
    ),
    directed AS (
      SELECT a AS src, b AS dst, wt FROM und
      UNION ALL SELECT b, a, wt FROM und
    ),
    wdeg AS (SELECT src, sum(wt) AS wdeg FROM directed GROUP BY src),
    n AS (SELECT count(*) AS n_nodes FROM wdeg),
    pr0 AS (SELECT src AS word, 1.0::DOUBLE / n_nodes AS pr FROM wdeg, n),
    {its}
    SELECT row_number() OVER (
             ORDER BY CAST(round(pr * 1e9) AS BIGINT) DESC, word
           ) AS rank,
           word, CAST(round(pr * 1e9) AS BIGINT) AS score_q
    FROM it{TEXTRANK_ITERS}
    QUALIFY rank <= {TEXTRANK_K}
    ORDER BY rank
    """


@query
def text_kneser_ney_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score EVERY document under a Kneser-Ney bigram model fit ONLY on
    the train split — the frozen-model form of ``text_kneser_ney_logprob``
    and the shape production perplexity filtering actually runs (CCNet
    scores crawl text under a model fit on trusted text; fitting on the
    text being scored leaks the filter). Fit/score share one split
    definition with the engine's splitter (``pipeline_ops._split_col``),
    so the leakage audit and this scorer can never disagree about what
    "train" means.

    Unseen events — impossible in the fit-on-self op, the whole point
    here — back off by construction: an unseen (u, w) pair scores the
    interpolation term alone; an unseen context u scores the continuation
    probability alone; and continuation probabilities are add-alpha
    smoothed over seen types plus one shared OOV bucket
    ((N1+(.,w) + a) / (T + a*(V+1))), so every bigram gets positive mass
    with exactly V+1 outcomes sharing the denominator.

    Scale design: the fit-on-self op's fold and scorer
    (:func:`_kn_score` with ``KN_OOV_ALPHA``) plus the split predicate
    pushed to the fit's scan — a 100 TB score pass against a frozen model
    reads the model frames, not the train corpus.
    """
    from komodo_data_spark.operators.pipeline_ops import _split_col
    from komodo_data_spark.sources.tables import load_spread

    d = load_spread(spark, sf_dir, "documents").withColumn("split", _split_col())
    # type-bounded frozen model, read by every model frame and the scoring
    # joins — one eager localCheckpoint = one train-split corpus fold
    counts = _gram_counts(d.filter(F.col("split") == "train")).localCheckpoint(
        eager=True
    )
    keys = ["doc_id", "split"]
    return _kn_score(_grams(d, carry=keys), counts, 2, KN_OOV_ALPHA, keys)


def text_kneser_ney_apply_oracle() -> str:
    from komodo_data_spark.operators.pipeline_ops import _sql_split_case

    t = sql_tokens()
    a = KN_OOV_ALPHA
    return f"""
    WITH d AS (
      SELECT doc_id, {_sql_split_case()} AS split, {t} AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id, split, toks[i] AS u, toks[i + 1] AS w
      FROM d, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS q(i)
    ),
    model AS (
      SELECT u, w, count(*) AS c FROM grams WHERE split = 'train'
      GROUP BY u, w
    ),
    ctx AS (
      SELECT u, sum(c) AS c_u, count(*) AS n1p_u FROM model GROUP BY u
    ),
    cont AS (SELECT w, count(*) AS n1p_w FROM model GROUP BY w),
    ty AS (
      SELECT (SELECT count(*) FROM model) AS t_types,
             (SELECT count(*) FROM cont) AS v_types
    ),
    scored AS (
      SELECT g.doc_id, g.split, count(*) AS n_bigrams,
             avg(ln(
               CASE WHEN ctx.c_u IS NOT NULL THEN
                 greatest(coalesce(m.c, 0) - {KN_DISCOUNT}::DOUBLE, 0.0) / ctx.c_u
                 + {KN_DISCOUNT}::DOUBLE * ctx.n1p_u / ctx.c_u
                   * ((coalesce(cont.n1p_w, 0) + {a}::DOUBLE)
                      / (ty.t_types + {a}::DOUBLE * (ty.v_types + 1)))
               ELSE
                 (coalesce(cont.n1p_w, 0) + {a}::DOUBLE)
                   / (ty.t_types + {a}::DOUBLE * (ty.v_types + 1))
               END
             )) AS avg_logprob_kn
      FROM grams g
      LEFT JOIN model m USING (u, w)
      LEFT JOIN ctx USING (u)
      LEFT JOIN cont USING (w)
      CROSS JOIN ty
      GROUP BY g.doc_id, g.split
    )
    SELECT doc_id, split, n_bigrams, avg_logprob_kn FROM scored
    """


@query
def text_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution entropy — the information-theoretic
    quality signal next to the heuristic ratios (``text_quality_scores``)
    and the repetition counters (``text_repetition_signals``): H =
    -sum p_t ln p_t over the doc's own token frequencies, plus the
    normalized form H / ln(n_distinct) that makes docs of different
    lengths comparable. Low entropy = token mass concentrated on few
    types (keyword stuffing, templated spam, degenerate generations) even
    when the surface ratios look fine.

    Scale design: the whole computation is ROW-LOCAL — no shuffle at all.
    H is computed as ln(n) - (1/n)·sum_i ln(c_{tok_i}) where the sum runs
    over the POSITIONAL token array (each occurrence contributes ln of
    its token's in-doc count): the fold order is the row's own array
    order, identical in both engines, so the oracle comparison never
    meets hash-aggregation float reordering. Per-occurrence counts come
    from ONE per-doc token→count map (count each DISTINCT token once,
    then element_at per position): O(len·distinct) comparisons per row
    instead of the O(len²) filter-inside-transform a 100k-token document
    would turn into ~1e10 string compares (round-9 ADVICE). The counts
    are the same integers either way, so the oracle keeps its direct
    per-position form — values, not algorithms, are what the gate hashes.
    Codegen'd, no Python. Docs with < 2 tokens get entropy 0 by
    convention.
    """
    d = _docs(spark, sf_dir).withColumn("toks", tokens())
    n = F.size("toks")
    distinct = F.array_distinct("toks")
    nd = F.size(distinct)
    cnt_map = F.map_from_arrays(
        distinct,
        F.transform(
            distinct, lambda t: F.size(F.filter("toks", lambda x: x == t))
        ),
    )
    d = d.withColumn("cnts", cnt_map)
    # sum_i ln(count of toks[i] within toks) in position order
    s = F.aggregate(
        F.transform(
            "toks",
            lambda t: F.log(F.element_at("cnts", t).cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    entropy = F.when(n >= 2, F.log(n.cast("double")) - s / n).otherwise(
        F.lit(0.0)
    )
    norm = F.when(nd >= 2, entropy / F.log(nd.cast("double"))).otherwise(
        F.lit(0.0)
    )
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        nd.alias("n_distinct_tokens"),
        entropy.alias("entropy"),
        norm.alias("entropy_norm"),
        (norm >= ENTROPY_NORM_MIN).alias("keep"),
    )


def text_entropy_stats_oracle() -> str:
    t = sql_tokens()
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    m AS (
      SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
             list_sum(list_transform(
               toks, t -> ln(len(list_filter(toks, x -> x = t))::DOUBLE)
             )) AS s
      FROM d
    ),
    e AS (
      SELECT doc_id, n, nd,
             CASE WHEN n >= 2 THEN ln(n::DOUBLE) - s / n ELSE 0.0 END
               AS entropy
      FROM m
    )
    SELECT doc_id, n AS n_tokens, nd AS n_distinct_tokens, entropy,
           CASE WHEN nd >= 2 THEN entropy / ln(nd::DOUBLE) ELSE 0.0 END
             AS entropy_norm,
           CASE WHEN nd >= 2 THEN entropy / ln(nd::DOUBLE) ELSE 0.0 END
             >= {ENTROPY_NORM_MIN} AS keep
    FROM e
    """


# --------------------------------------------------------------------------
# quality scoring
# --------------------------------------------------------------------------


@query
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features: length, stopword ratio, mean word length,
    and a bounded composite score = min(n_tokens/100, 1) * (0.5 + 0.5*TTR)."""
    stop = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    d = _docs(spark, sf_dir).withColumn("toks", tokens())
    n_tokens = F.size("toks")
    ttr = F.size(F.array_distinct("toks")).cast("double") / n_tokens
    stop_hits = F.expr(f"size(filter(toks, t -> t IN ({stop})))")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        (stop_hits.cast("double") / n_tokens).alias("stopword_ratio"),
        (F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * (0.5 + 0.5 * ttr)).alias(
            "quality_score"
        ),
        (n_tokens < 20).alias("is_short"),
    )


def text_quality_scores_oracle() -> str:
    t = sql_tokens()
    stop = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    return f"""
    WITH d AS (SELECT doc_id, text, {t} AS toks FROM documents)
    SELECT doc_id,
      length(text) AS n_chars_actual,
      len(toks) AS n_tokens,
      len(list_filter(toks, t -> t IN ({stop})))::DOUBLE / len(toks)
        AS stopword_ratio,
      least(len(toks) / 100.0, 1.0)
        * (0.5 + 0.5 * (len(list_distinct(toks))::DOUBLE / len(toks)))
        AS quality_score,
      len(toks) < 20 AS is_short
    FROM d
    """


# --------------------------------------------------------------------------
# language identification (n-gram/stopword heuristic)
# --------------------------------------------------------------------------


@query
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID; output is the (actual, predicted) confusion
    matrix. Ties break in declaration order (en > de > fr > es); docs with
    zero stopword hits are 'und'. The per-doc scoring is shuffle-free; only
    the tiny confusion-matrix groupBy shuffles (≤ |langs|² rows)."""
    from komodo_data_spark.sources.tables import load_spread

    d = load_spread(spark, sf_dir, "documents").withColumn("toks", tokens())
    scores = {}
    for lang, words in LANG_STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        scores[lang] = F.expr(f"size(filter(toks, t -> t IN ({lst})))")
    langs = list(LANG_STOPWORDS)
    pred = F.lit("und")
    # build the argmax CASE back-to-front so earlier langs win ties
    for lang in reversed(langs):
        cond = scores[lang] > 0
        for other in langs:
            if langs.index(other) < langs.index(lang):
                cond = cond & (scores[lang] > scores[other])
            elif other != lang:
                cond = cond & (scores[lang] >= scores[other])
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return (
        d.withColumn("pred_lang", pred)
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def text_language_id_oracle() -> str:
    t = sql_tokens()
    score_exprs = []
    for lang, words in LANG_STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        score_exprs.append(f"len(list_filter(toks, t -> t IN ({lst}))) AS s_{lang}")
    langs = list(LANG_STOPWORDS)
    whens = []
    for lang in langs:
        conds = [f"s_{lang} > 0"]
        for other in langs:
            if langs.index(other) < langs.index(lang):
                conds.append(f"s_{lang} > s_{other}")
            elif other != lang:
                conds.append(f"s_{lang} >= s_{other}")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(whens) + " ELSE 'und' END"
    return f"""
    WITH d AS (SELECT doc_id, lang, {t} AS toks FROM documents),
    s AS (SELECT doc_id, lang, {", ".join(score_exprs)} FROM d)
    SELECT lang, {case} AS pred_lang, count(*) AS n_docs
    FROM s GROUP BY lang, pred_lang
    """


# --------------------------------------------------------------------------
# BPE-ish token count estimation
# --------------------------------------------------------------------------

#: Subword-ish lexer: letter runs, digit runs capped at 3 (BPE vocabularies
#: split long numbers), single non-alphanumeric marks. RE2-safe (no
#: lookaround) so the identical pattern runs in Spark (Java regex) and the
#: DuckDB oracle (RE2).
_BPE_PATTERN = r"[a-z]+|[0-9]{1,3}|[^a-z0-9\s]"


@query
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-cost estimation per document: whitespace token count vs a
    BPE-ish regex token count, plus chars-per-BPE-token (the budget number a
    training pipeline actually plans with). Pure map-side projection —
    regexp_extract_all runs inside whole-stage codegen; no shuffle."""
    d = _docs(spark, sf_dir)
    bpe = F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PATTERN), 0)
    return d.select(
        "doc_id",
        F.size(tokens()).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        (F.length("text").cast("double") / F.size(bpe)).alias("chars_per_bpe"),
    )


def text_bpe_token_estimate_oracle() -> str:
    t = sql_tokens()
    return f"""
    SELECT doc_id,
      len({t}) AS n_ws_tokens,
      len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')) AS n_bpe_tokens,
      length(text)::DOUBLE
        / len(regexp_extract_all(lower(text), '{_BPE_PATTERN}'))
        AS chars_per_bpe
    FROM documents
    """


#: Number of BPE merge rounds text_bpe_train_apply learns. Fixed unrolling
#: keeps the plan finite (same trade as kmeans_clusters / graph_pagerank).
BPE_MERGES = 8

#: Symbol separator for the merge-apply string form. Outside every corpus
#: alphabet this engine targets; words containing it are excluded from
#: training/application on BOTH sides (documented contract).
_BPE_SEP = "\x01"


def _bpe_wrapped(word) -> "F.Column":
    """The ``·a··b··c·`` string form of a word's symbol sequence: every
    symbol wrapped in separators. On this form a BPE merge (a, b) is ONE
    literal string replace of ``·a··b·`` → ``·ab·`` — left-to-right
    non-overlapping replacement IS the greedy BPE apply order, and the
    double separator makes a symbol-boundary false match impossible
    (``·xa··b·`` does not contain ``·a··b·``). Identical semantics in
    Spark ``replace`` and DuckDB ``replace``, so the oracle mirrors the
    apply step exactly."""
    sep = F.lit(_BPE_SEP)
    return F.concat(sep, F.array_join(F.split(word, ""), _BPE_SEP * 2), sep)


def _bpe_syms(w) -> "F.Column":
    """Symbol array back out of the wrapped string form."""
    return F.split(
        F.expr(f"trim(BOTH char(1) FROM {w})"), _BPE_SEP * 2
    )


def _bpe_corpus_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus word stream (doc_id, word) every BPE consumer reads —
    one scan + explode, separator-byte words excluded (the documented
    ``_BPE_SEP`` contract)."""
    d = _docs(spark, sf_dir).select("doc_id", tokens().alias("toks"))
    return exploded(d, F.col("toks"), "word", "doc_id").filter(
        (F.length("word") > 0) & ~F.col("word").contains(_BPE_SEP)
    )


@shared_fit("bpe_vocab")
def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weighted word vocabulary (word, cnt) — a shared fit of the
    trainer at every geometry and of the published-model applier.
    Materialized because the unrolled rounds would otherwise re-run the
    corpus explode per round (measured 15 s → 1.3 s at sf0.1)."""
    return (
        _bpe_corpus_tokens(spark, sf_dir)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bpe_wrapped_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 0 of the trainer and of the published-merge fold: the
    weighted vocabulary (``_bpe_vocab``) with each word wrapped into its
    symbol-string form (word, cnt, w)."""
    return _bpe_vocab(spark, sf_dir).withColumn(
        "w", _bpe_wrapped(F.col("word"))
    )


def _bpe_apply(spark: SparkSession, sf_dir: str, cur: DataFrame) -> DataFrame:
    """Per-document word and post-merge token counts (doc_id, n_words,
    n_bpe_tokens) under a fitted vocabulary ``cur`` (word, w): a
    broadcast join of the (word → n_symbols) table onto the corpus word
    stream, then a per-doc count and sum."""
    fitted = cur.select("word", F.size(_bpe_syms("w")).alias("n_syms"))
    return (
        _bpe_corpus_tokens(spark, sf_dir)
        .join(F.broadcast(fitted), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_bpe_tokens"),
        )
    )


def _bpe_pair_weights(cur) -> DataFrame:
    """Corpus-weighted adjacent-pair counts (a, b, wt) over the current
    vocabulary's symbol arrays — one explode + one map-side-combinable
    aggregate, vocab-bounded."""
    syms = _bpe_syms("w")
    n_pairs = F.size(syms) - 1
    pairs = cur.select(
        "cnt",
        F.arrays_zip(
            F.slice(syms, 1, F.greatest(n_pairs, F.lit(0))).alias("a"),
            F.slice(syms, 2, F.greatest(n_pairs, F.lit(0))).alias("b"),
        ).alias("ps"),
    )
    return (
        exploded(pairs, F.col("ps"), "p", "cnt")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("wt"))
    )


@query
def text_bpe_train_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a real byte-pair encoder on the corpus and apply it: learn the
    top ``BPE_MERGES`` merges by exact corpus-weighted pair counting
    (Sennrich et al. 2016's algorithm, re-expressed declaratively), then
    report each document's EXACT post-merge token count — the trained
    upgrade of the regex proxy in ``text_bpe_token_estimate``, feeding
    ``token_packing_stats`` with real tokenizer economics.

    The fit is the batched trainer at one candidate per round
    (``_bpe_fit_shared(rounds=BPE_MERGES, topc=1)``): with a one-row
    window there is nothing to conflict with, and the pair counts are
    refreshed between every merge — Sennrich's trainer, one TakeOrdered
    job per merge over the vocab-bounded weighted vocabulary (see
    ``_bpe_fit_batched`` for the scale design). The DuckDB oracle is the
    literal top-1 chain. Application is ``_bpe_apply``.
    """
    cur, _merges = _bpe_fit_shared(spark, sf_dir, BPE_MERGES, 1)
    return _bpe_apply(spark, sf_dir, cur)


@query
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table itself — (rank, a, b) in training order, the
    inspectable artifact of ``text_bpe_train_apply``'s fit (what ships to
    the tokenizer at inference time). A vocabulary exhausted before
    ``BPE_MERGES`` merges ends the table early: ranks stay dense from 0."""
    _cur, merges = _bpe_fit_shared(spark, sf_dir, BPE_MERGES, 1)
    return merges.orderBy("rank")


def text_bpe_merges_oracle() -> str:
    body = "\n      UNION ALL ".join(
        f"SELECT {r} AS rank, a, b FROM m{r}" for r in range(BPE_MERGES)
    )
    prefix = text_bpe_train_apply_oracle().split(",\n    fitted AS")[0]
    return f"""
    {prefix}
    SELECT rank, a, b FROM (
      {body}
    ) WHERE NOT (a = '' AND b = '')
    ORDER BY rank
    """


def text_bpe_train_apply_oracle() -> str:
    t = sql_tokens()
    sep = "chr(1)"
    sep2 = f"({sep}||{sep})"
    rounds = []
    for r in range(BPE_MERGES):
        prev, cur = f"s{r}", f"s{r + 1}"
        rounds.append(f"""
    p{r} AS (
      SELECT syms[i] AS a, syms[i+1] AS b, sum(cnt) AS wt
      FROM (SELECT cnt, string_split(trim(w, {sep}), {sep2}) AS syms
            FROM {prev}),
           unnest(range(1, len(syms))) AS u(i)
      GROUP BY syms[i], syms[i+1]
    ),
    m{r} AS (
      SELECT a, b FROM (
        SELECT a, b, wt FROM p{r}
        UNION ALL SELECT '', '', -1
      ) ORDER BY wt DESC, a ASC, b ASC LIMIT 1
    ),
    {cur} AS (
      SELECT word, cnt,
             replace(w, {sep}||a||{sep2}||b||{sep}, {sep}||a||b||{sep}) AS w
      FROM {prev}, m{r}
    )""")
    return f"""
    WITH toks AS (
      SELECT doc_id, word
      FROM (SELECT doc_id, unnest({t}) AS word FROM documents)
      WHERE length(word) > 0 AND position({sep} IN word) = 0
    ),
    v AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
    s0 AS (
      SELECT word, cnt,
             {sep} || array_to_string(string_split(word, ''), {sep2}) || {sep}
               AS w
      FROM v
    ),{",".join(rounds)},
    fitted AS (
      SELECT word,
             len(string_split(trim(w, {sep}), {sep2})) AS n_syms
      FROM s{BPE_MERGES}
    )
    SELECT t.doc_id,
           count(*)::BIGINT AS n_words,
           sum(f.n_syms)::BIGINT AS n_bpe_tokens
    FROM toks t JOIN fitted f USING (word)
    GROUP BY t.doc_id
    """


#: Batched-BPE geometry: rounds of training, the per-round candidate
#: window, and the accept-wave count. The exact geometry (topc=1) is one
#: Spark round PER MERGE (BPE_MERGES=8); real tokenizers need ~32k merges,
#: which that shape cannot reach (round-9 verdict ask #4). The batched
#: geometry selects a pairwise-DISJOINT subset of the top-BPE_BATCH_TOPC
#: weighted candidates each round (BPE_BATCH_WAVES passes of the
#: disjoint-from-all-higher-ranked rule — wave 2+ re-admits candidates
#: whose only conflicts were themselves rejected, approaching the greedy
#: scan; measured 79 merges in 8 rounds on the sf0.001 corpus vs 39 at
#: one wave and 8 for the exact trainer) and applies them all in ONE
#: replace pass — 32k merges becomes ~thousands of rounds instead of 32k.
BPE_BATCH_ROUNDS = 8
BPE_BATCH_TOPC = 32
BPE_BATCH_WAVES = 3

#: The batched trainer re-bases its loop-carried replace chain onto a
#: fresh vocab checkpoint every this-many rounds, bounding both the
#: expression tree (≤ _BPE_REBASE_ROUNDS·topc nested replaces) and the
#: per-round replay cost for deep production fits; at the default
#: 8-round geometry the rebase never fires mid-loop.
_BPE_REBASE_ROUNDS = 8


def _bpe_conflicts(z: str, x: str):
    """True when candidates aliased ``z`` and ``x`` cannot safely apply in
    the same replace pass: they share an operand symbol (one replace
    destroys the other's matches), or one's OUTPUT equals the other's
    operand (('th','e')→'the' manufactures fresh matches for ('the','r')
    mid-pass — operand-disjoint yet non-commutative)."""
    za, zb = F.col(f"{z}.a"), F.col(f"{z}.b")
    xa, xb = F.col(f"{x}.a"), F.col(f"{x}.b")
    zout, xout = F.concat(za, zb), F.concat(xa, xb)
    return (
        (za == xa) | (za == xb) | (zb == xa) | (zb == xb)
        | (zout == xa) | (zout == xb)
        | (xout == za) | (xout == zb)
    )


def _bpe_conflicts_local(z: tuple, x: tuple) -> bool:
    """:func:`_bpe_conflicts` over driver tuples ``(a, b)`` — the SAME
    predicate, applied to the collected candidate window (which is ≤
    BPE_BATCH_TOPC rows by construction, so the accept waves are pure
    driver arithmetic). Pinned equal to the Column form on the round-10
    conflict fixture by tests/test_round12_ops.py."""
    za, zb = z[0], z[1]
    xa, xb = x[0], x[1]
    zout, xout = za + zb, xa + xb
    return (
        za == xa or za == xb or zb == xa or zb == xb
        or zout == xa or zout == xb
        or xout == za or xout == zb
    )


def _bpe_fit_batched(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = BPE_BATCH_ROUNDS,
    topc: int = BPE_BATCH_TOPC,
):
    """Batched BPE trainer: per round take the top-``topc`` weighted pair
    candidates, select a pairwise-DISJOINT subset (see below), and apply
    all survivors in one replace pass. Returns
    (cur, merges(rank, a, b)). With ``topc=1`` this is the exact trainer:
    a one-row window has no conflicts, and the counts refresh between
    every merge.

    Why conflict-free is exact PER ROUND: a merge (a, b) → ``ab`` rewrites
    the wrapped form ``·a··b·`` → ``·ab·``. A replace can interact with
    another candidate's pattern in exactly two ways: by DESTROYING an
    occurrence of a shared operand symbol, or by CREATING occurrences of
    its own OUTPUT symbol ``ab`` that the other candidate's pattern then
    names as an operand (e.g. ('th','e') → 'the' feeding ('the','r') —
    operand-disjoint, yet the first replace manufactures new matches for
    the second, so they do not commute). The conflict predicate therefore
    rejects a candidate that shares an operand with a higher-ranked one
    OR whose output equals a higher-ranked candidate's operand OR whose
    operand equals a higher-ranked candidate's output. For two candidates
    passing that predicate, neither replace can create, destroy, or
    overlap an occurrence of the other's pattern, so the replaces COMMUTE
    and one combined pass equals any sequential order. Belt-and-braces,
    the apply fold below still sorts the accepted merges by rank before
    folding so Spark and the oracle fold in the same deterministic order.
    What batching trades away vs ``topc=1`` is only the COUNT
    REFRESH between accepted merges: candidate k's weight was computed
    before candidates 1..k-1 applied (the standard batched-tokenizer
    trade, cf. the tokenizers library's train batching).

    Acceptance is ``BPE_BATCH_WAVES`` passes of "conflict-free vs every
    higher-ranked candidate in the remaining window": wave 1 alone is
    conservative (a candidate conflicting only with candidates that were
    THEMSELVES rejected is lost — hot early symbols reject most of the
    window), so wave k+1 re-runs the rule on the candidates that neither
    were accepted nor conflict with anything accepted so far. The window
    is ≤ topc rows BY CONSTRUCTION — its size is fixed by the geometry,
    never by the corpus — so it is collected once per round (the same
    driver-scalar class as the candidate-volume guards' ``.first()``)
    and the waves run as pure driver arithmetic on those ≤ topc tuples
    (``_bpe_conflicts_local``, pinned equal to the Column predicate).

    Scale design: one corpus pass builds the weighted vocabulary, every
    round after that is vocab-bounded — ONE TakeOrdered job per round
    (the old shape paid three scheduler waves per round: a top-window
    checkpoint, an accepted-set checkpoint, and an eager vocab
    re-materialization after the broadcast fold). The accepted merges
    fold back as literal string replaces, so the loop-carried vocabulary
    is a chain of narrow maps over the one checkpointed vocab; the chain
    is re-based onto a fresh checkpoint every ``_BPE_REBASE_ROUNDS``
    rounds so a deep (32k-merge) trainer's expression tree and replay
    cost stay bounded while the default 8-round fit pays no extra
    materialization at all.
    """
    base = _bpe_wrapped_vocab(spark, sf_dir)
    sep = _BPE_SEP

    merge_rows = []  # (rank, a, b) across rounds, rank dense from 0
    w_expr = F.col("w")
    for r in range(rounds):
        wt = _bpe_pair_weights(base.select("cnt", w_expr.alias("w")))
        top = (
            wt.orderBy(F.desc("wt"), F.asc("a"), F.asc("b"))
            .limit(topc)
            .select("a", "b", "wt")
            .collect()
        )
        # re-sort on the driver: the collect order of a TakeOrdered plan
        # is the sort order today, but the tie-break must not depend on it
        cands = [
            (row["a"], row["b"], rk + 1)
            for rk, row in enumerate(
                sorted(top, key=lambda t: (-t["wt"], t["a"], t["b"]))
            )
        ]
        acc: list = []
        remaining = cands
        for _wave in range(BPE_BATCH_WAVES):
            wave = [
                x
                for x in remaining
                if not any(
                    y[2] < x[2] and _bpe_conflicts_local(y, x)
                    for y in remaining
                )
            ]
            acc.extend(wave)
            # accepted candidates conflict with themselves, so one
            # conflicts pass against the accepted set drops both the
            # accepted rows and everything they block
            remaining = [
                x
                for x in remaining
                if not any(_bpe_conflicts_local(z, x) for z in acc)
            ]
        acc.sort(key=lambda t: t[2])  # fold in rank order within the round
        for a, b, _rk in acc:
            merge_rows.append((len(merge_rows), a, b))
            w_expr = F.replace(
                w_expr,
                F.lit(sep + a + sep * 2 + b + sep),
                F.lit(sep + a + b + sep),
            )
        if (r + 1) % _BPE_REBASE_ROUNDS == 0 and r + 1 < rounds:
            base = base.select("word", "cnt", w_expr.alias("w"))
            base = base.localCheckpoint(eager=True)
            w_expr = F.col("w")
    cur = base.select("word", "cnt", w_expr.alias("w"))
    merges = spark.createDataFrame(
        merge_rows, "rank int, a string, b string"
    ).select("rank", "a", "b")
    return cur, merges


@shared_fit("bpe")
def _bpe_fit_shared(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = BPE_BATCH_ROUNDS,
    topc: int = BPE_BATCH_TOPC,
):
    """(cur, merges) of :func:`_bpe_fit_batched`, the session-shared fit
    of every BPE consumer: the exact geometry (``BPE_MERGES`` rounds,
    ``topc=1``) behind ``text_bpe_train_apply`` and ``text_bpe_merges``;
    the default geometry behind ``text_bpe_merges_batched``,
    ``text_bpe_batched_train_apply``, ``text_bpe_publish`` and the
    encode/packed-sequence queries. The memo keys by the bound params
    but keeps one fit per family and sf_dir, so the registry order
    (exact geometry first) pays each geometry once. ``cur`` (vocab-sized
    fitted symbol strings) is the materialized part; ``merges`` is
    ≤ rounds·topc driver rows (a Scan ExistingRDD — a ``LogicalRDD`` —
    read as-is). Cross-session sharing is the parquet form:
    :func:`text_bpe_publish` / :func:`text_bpe_apply_published`."""
    return _bpe_fit_batched(spark, sf_dir, rounds, topc)


def _bpe_merges_store_path(model_path: str) -> str:
    import os

    return os.path.join(model_path, "merges")


def text_bpe_publish(
    spark: SparkSession, sf_dir: str, model_path: str
) -> None:
    """Freeze the batched-BPE tokenizer trained on ``sf_dir``: a
    scan-heavy fit followed by a TINY parquet write — the merge table
    (rank, a, b), ≤ rounds·topc rows — mirroring
    ``publish_ivfpq_model`` (streaming/ann_pq_incremental.py). The merge
    table IS the model: every consumer re-derives the fitted vocabulary
    by folding the merges in rank order (see
    :func:`_bpe_apply_merge_table`), exactly how published BPE encoders
    (the tokenizers library's merges.txt) apply."""
    _cur, merges = _bpe_fit_shared(spark, sf_dir)
    merges.write.mode("overwrite").parquet(_bpe_merges_store_path(model_path))


def read_bpe_model(spark: SparkSession, model_path: str) -> DataFrame:
    """The published merge table (rank, a, b) — tiny, meant to be
    broadcast by every consumer."""
    return spark.read.parquet(_bpe_merges_store_path(model_path))


def _bpe_apply_merge_table(vocab: DataFrame, merges: DataFrame) -> DataFrame:
    """Apply a (rank, a, b) merge table to a wrapped-word vocabulary:
    one broadcast of the rank-sorted merge structs folded over each
    word's symbol string. Sequential rank-order application reproduces
    the trainer's final vocabulary EXACTLY: within a round the accepted
    set is pairwise conflict-free (no shared operands, no
    output↔operand cascades — ``_bpe_conflicts``), so the one combined
    pass the trainer ran equals this sequential fold restricted to that
    round, and rounds compose in order. Pinned by
    tests/test_round11_ops."""
    sep = _BPE_SEP
    ms = merges.select(
        F.array_sort(
            F.collect_list(F.struct(F.col("rank").alias("rk"), "a", "b"))
        ).alias("ms")
    )
    return (
        vocab.crossJoin(F.broadcast(ms))
        .withColumn(
            "w",
            F.aggregate(
                "ms",
                F.col("w"),
                lambda w, m: F.replace(
                    w,
                    F.concat(
                        F.lit(sep), m["a"], F.lit(sep * 2), m["b"],
                        F.lit(sep),
                    ),
                    F.concat(F.lit(sep), m["a"], m["b"], F.lit(sep)),
                ),
            ),
        )
        .drop("ms")
    )


def text_bpe_apply_published(
    spark: SparkSession, sf_dir: str, model_path: str
) -> DataFrame:
    """``text_bpe_batched_train_apply``'s output against a PUBLISHED
    frozen tokenizer — the cross-session production form: no fit, one
    corpus scan, the merge fold, the broadcast apply join. Fails fast
    with the store-precondition error when the model was never
    published (``require_store``, same contract as the ANN PQ store)."""
    from komodo_data_spark.streaming.stores import require_store

    require_store(
        spark, _bpe_merges_store_path(model_path), "BPE merge table"
    )
    merges = read_bpe_model(spark, model_path)
    vocab = _bpe_wrapped_vocab(spark, sf_dir)
    return _bpe_apply(spark, sf_dir, _bpe_apply_merge_table(vocab, merges))


# published ≡ refit: the store roundtrip must hash-match the
# in-session train_apply oracle exactly
@query(oracle="text_bpe_batched_train_apply_oracle")
def text_bpe_published_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing roundtrip of the PUBLISH path: freeze the merge
    table to a session-scoped store (`text_bpe_publish` — tiny parquet
    write), then apply THROUGH the store (`text_bpe_apply_published`:
    require_store gate, read, rank-order fold). The oracle is
    `text_bpe_batched_train_apply`'s — published ≡ refit is thereby
    hash-checked in the correctness gate itself, not only pinned in
    pytest. The store is ``session_model_path``'s, overwritten on each
    publish."""
    model_path = session_model_path(spark, "bpe", sf_dir)
    text_bpe_publish(spark, sf_dir, model_path)
    return text_bpe_apply_published(spark, sf_dir, model_path)


@query
def text_bpe_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batched trainer's merge table — (rank, a, b) in acceptance
    order. Same artifact shape as ``text_bpe_merges`` but learned at
    ~BPE_BATCH_TOPC merges per Spark round (the scale-depth form: 32k
    merges in hundreds of rounds, not 32k). ``text_bpe_merges`` is the
    same trainer at ``topc=1`` (one candidate, no conflicts, count
    refresh between every merge) — pinned against its DuckDB top-1 chain
    by tests/test_round10_ops."""
    _cur, merges = _bpe_fit_shared(spark, sf_dir)
    return merges.orderBy("rank")


@query
def text_bpe_batched_train_apply(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Apply the BATCHED-trained encoder to the corpus: per-document word
    and post-merge token counts under the ~10-merges-per-round vocabulary
    (77 merges at sf0.01 vs the exact trainer's 8) — the tokenizer-
    economics twin of ``text_bpe_train_apply`` at realistic merge depth.
    Application is the same ``_bpe_apply``; only the fit's geometry
    differs (``_bpe_fit_shared`` at its defaults — one fit per session,
    shared with the merge-table/encode/packed consumers)."""
    cur, _merges = _bpe_fit_shared(spark, sf_dir)
    return _bpe_apply(spark, sf_dir, cur)


def text_bpe_batched_train_apply_oracle() -> str:
    prefix = text_bpe_merges_batched_oracle().rsplit(
        "SELECT row_number()", 1
    )[0]
    # the prefix ends after the last round's state CTE list; strip the
    # trailing comma-joined SELECT and close with the fitted/apply tail
    sep = "chr(1)"
    sep2 = f"({sep}||{sep})"
    return f"""
    {prefix.rstrip()}
    , fitted AS (
      SELECT word,
             len(string_split(trim(w, {sep}), {sep2})) AS n_syms
      FROM s{BPE_BATCH_ROUNDS}
    )
    SELECT t.doc_id,
           count(*)::BIGINT AS n_words,
           sum(f.n_syms)::BIGINT AS n_bpe_tokens
    FROM toks t JOIN fitted f USING (word)
    GROUP BY t.doc_id
    """


def _bpe_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's token stream under the batched-trained vocabulary,
    one row per token (lang, doc_id, pos, sym_pos, token): the
    positional word stream (separator-byte words excluded), a broadcast
    join of the fitted (word → symbol array) table, then one
    posexplode."""
    cur, _merges = _bpe_fit_shared(spark, sf_dir)
    fitted = cur.select("word", _bpe_syms("w").alias("syms"))
    return (
        _docs(spark, sf_dir)
        .select(
            "lang", "doc_id", F.posexplode(tokens()).alias("pos", "word")
        )
        .filter(
            (F.length("word") > 0) & ~F.col("word").contains(_BPE_SEP)
        )
        .join(F.broadcast(fitted), "word")
        .select(
            "lang",
            "doc_id",
            "pos",
            F.posexplode("syms").alias("sym_pos", "token"),
        )
    )


@query
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual TOKEN STREAM under the batched-trained BPE vocabulary:
    one row per emitted token, addressed (doc_id, pos, sym_pos, token) —
    word position in the document, symbol position within the word. This
    is the artifact a training pipeline exports (the counts twins price
    packing; this materializes the sequences they price), and joined to
    ``token_packing_sequences``'s offsets it becomes real packed input.

    Scale design (``_bpe_encoded``): the fit is ``_bpe_fit_shared``
    (vocab-bounded rounds, one fit per session shared across the BPE
    family); encoding is a broadcast join of the fitted
    (word → symbol array) table onto the position-preserving corpus
    explode, then one more posexplode — all map-side after the join,
    ordering carried by explicit (pos, sym_pos) columns rather than any
    sort. Words containing the separator byte are excluded from training
    AND encoding (the documented ``_BPE_SEP`` contract).
    """
    return _bpe_encoded(spark, sf_dir).drop("lang")


def text_bpe_encode_oracle() -> str:
    t = sql_tokens()
    sep = "chr(1)"
    sep2 = f"({sep}||{sep})"
    prefix = text_bpe_merges_batched_oracle().rsplit(
        "SELECT row_number()", 1
    )[0]
    return f"""
    {prefix.rstrip()}
    , fitted AS (
      SELECT word, string_split(trim(w, {sep}), {sep2}) AS syms
      FROM s{BPE_BATCH_ROUNDS}
    ),
    posed AS (
      SELECT doc_id, i - 1 AS pos, toks[i] AS word
      FROM (SELECT doc_id, {t} AS toks FROM documents),
           unnest(range(1, len(toks) + 1)) AS u(i)
      WHERE length(toks[i]) > 0 AND position({sep} IN toks[i]) = 0
    )
    SELECT p.doc_id, p.pos, j - 1 AS sym_pos, f.syms[j] AS token
    FROM posed p
    JOIN fitted f USING (word),
         unnest(range(1, len(f.syms) + 1)) AS v(j)
    """


@query
def text_bpe_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the tokenizer pipeline: the corpus's BPE token stream
    packed into fixed-PACK_SEQ_LEN training sequences — one row per
    token, addressed ``(lang, seq_id, seq_pos, doc_id, token)``. This
    composes the two halves the registry prices separately:
    ``text_bpe_encode`` materializes the tokens,
    ``token_packing_sequences`` computes where whitespace-token slices
    land — here the REAL (BPE) tokens land in their actual packed
    positions, which is literally the training-batch input layout.

    Semantics: within a language, docs lie end-to-end in doc_id order
    (token order inside a doc = (word pos, symbol pos)); the stream is
    cut every PACK_SEQ_LEN tokens; token with per-doc index i of a doc
    whose language-stream start offset is s sits at
    seq_id = (s+i) div L, seq_pos = (s+i) mod L. All integer arithmetic.

    Scale design: the token stream is ``_bpe_encoded``'s (vocab-bounded
    fit, broadcast join + posexplode); the per-doc token index is a
    window PARTITIONED BY doc_id (parallel — never a global sort); doc
    start offsets are ``pipeline_ops._doc_starts`` — the
    ``quantiles.prefix_scan`` sum over range partitions (per-(lang, pid)
    partials + a broadcast offsets frame — no per-language single-task
    window at any corpus size; the oracle's plain per-lang window sum is
    value-identical).
    The final seq/pos assignment is pure map-side arithmetic.
    """
    from pyspark.sql import Window

    from komodo_data_spark.operators.pipeline_ops import (
        PACK_SEQ_LEN,
        _doc_starts,
    )

    enc = _bpe_encoded(spark, sf_dir)
    w_tok = Window.partitionBy("doc_id").orderBy("pos", "sym_pos")
    stream = enc.withColumn("tok_idx", F.row_number().over(w_tok) - 1)
    counts = enc.groupBy("lang", "doc_id").agg(
        F.count(F.lit(1)).alias("n_toks")
    )
    started = _doc_starts(counts, "n_toks").select("doc_id", "s")
    L = PACK_SEQ_LEN
    return (
        stream.join(started, "doc_id")
        .withColumn("g", F.col("s") + F.col("tok_idx"))
        .select(
            "lang",
            F.expr(f"g div {L}").cast("long").alias("seq_id"),
            (F.col("g") % L).cast("long").alias("seq_pos"),
            "doc_id",
            "token",
        )
    )


def text_bpe_packed_sequences_oracle() -> str:
    from komodo_data_spark.operators.pipeline_ops import PACK_SEQ_LEN

    enc = text_bpe_encode_oracle()
    L = PACK_SEQ_LEN
    return f"""
    WITH enc AS MATERIALIZED (
      SELECT e.*, d.lang,
             row_number() OVER (
               PARTITION BY e.doc_id ORDER BY e.pos, e.sym_pos
             ) - 1 AS tok_idx
      FROM ({enc}) e JOIN documents d USING (doc_id)
    ),
    counts AS (
      SELECT lang, doc_id, count(*) AS n_toks FROM enc
      GROUP BY lang, doc_id
    ),
    started AS (
      SELECT doc_id,
             coalesce(sum(n_toks) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS s
      FROM counts
    )
    SELECT e.lang,
           ((st.s + e.tok_idx) // {L})::BIGINT AS seq_id,
           ((st.s + e.tok_idx) % {L})::BIGINT AS seq_pos,
           e.doc_id, e.token
    FROM enc e JOIN started st USING (doc_id)
    """


def text_bpe_merges_batched_oracle(
    rounds: int = BPE_BATCH_ROUNDS,
    topc: int = BPE_BATCH_TOPC,
    waves: int = BPE_BATCH_WAVES,
) -> str:
    # Every per-round CTE is AS MATERIALIZED: DuckDB inlines plain CTEs,
    # and this chain references s{r} twice (pair counts + next state) and
    # the window/wave frames several times each — inlining makes round
    # r's cost a multiple of round r-1's, i.e. exponential re-evaluation
    # of the corpus explode (measured: the un-hinted single-wave form ran
    # >15 min at sf0.01 single-threaded; materialized it is sub-second).
    t = sql_tokens()
    sep = "chr(1)"
    sep2 = f"({sep}||{sep})"

    def shares(z: str, x: str) -> str:
        # operand overlap OR output↔operand equality (cascade conflicts:
        # ('th','e')→'the' feeding ('the','r')) — mirrors the Spark
        # trainer's conflicts() exactly
        return (
            f"({z}.a = {x}.a OR {z}.a = {x}.b "
            f"OR {z}.b = {x}.a OR {z}.b = {x}.b "
            f"OR ({z}.a || {z}.b) IN ({x}.a, {x}.b) "
            f"OR ({x}.a || {x}.b) IN ({z}.a, {z}.b))"
        )

    parts = []
    for r in range(rounds):
        prev, cur = f"s{r}", f"s{r + 1}"
        parts.append(f"""
    p{r} AS MATERIALIZED (
      SELECT syms[i] AS a, syms[i+1] AS b, sum(cnt) AS wt
      FROM (SELECT cnt, string_split(trim(w, {sep}), {sep2}) AS syms
            FROM {prev}),
           unnest(range(1, len(syms))) AS u(i)
      GROUP BY syms[i], syms[i+1]
    ),
    t{r} AS MATERIALIZED (
      SELECT a, b, row_number() OVER (ORDER BY wt DESC, a, b) AS rk
      FROM p{r} ORDER BY wt DESC, a, b LIMIT {topc}
    )""")
        # the wave ladder: a{r}w{k} accepts, r{r}w{k} is what remains
        prev_rem = f"t{r}"
        acc_union = []
        for k in range(1, waves + 1):
            acc_union.append(f"SELECT a, b, rk FROM a{r}w{k}")
            acc_so_far = " UNION ALL ".join(acc_union)
            parts.append(f"""
    a{r}w{k} AS MATERIALIZED (
      SELECT a, b, rk FROM {prev_rem} x
      WHERE NOT EXISTS (
        SELECT 1 FROM {prev_rem} y WHERE y.rk < x.rk AND {shares("y", "x")}
      )
    ),
    r{r}w{k} AS MATERIALIZED (
      SELECT a, b, rk FROM {prev_rem} x
      WHERE NOT EXISTS (
        SELECT 1 FROM ({acc_so_far}) z WHERE {shares("z", "x")}
      )
    )""")
            prev_rem = f"r{r}w{k}"
        acc_all = " UNION ALL ".join(acc_union)
        parts.append(f"""
    acc{r} AS MATERIALIZED ({acc_all}),
    ms{r} AS MATERIALIZED (
      SELECT coalesce(
        list({sep}||a||{sep2}||b||{sep} ORDER BY rk), []::VARCHAR[]
      ) AS ms FROM acc{r}
    ),
    {cur} AS MATERIALIZED (
      SELECT word, cnt,
             list_reduce(
               list_prepend(w, ms),
               (acc, e) -> replace(acc, e, replace(e, {sep2}, ''))
             ) AS w
      FROM {prev}, ms{r}
    )""")
    union = "\n      UNION ALL ".join(
        f"SELECT {r} AS round, rk, a, b FROM acc{r}" for r in range(rounds)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, word
      FROM (SELECT doc_id, unnest({t}) AS word FROM documents)
      WHERE length(word) > 0 AND position({sep} IN word) = 0
    ),
    v AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
    s0 AS (
      SELECT word, cnt,
             {sep} || array_to_string(string_split(word, ''), {sep2}) || {sep}
               AS w
      FROM v
    ),{",".join(parts)}
    SELECT row_number() OVER (ORDER BY round, rk) - 1 AS rank, a, b
    FROM ({union})
    ORDER BY rank
    """


# --------------------------------------------------------------------------
# boilerplate shingle detection (heavy hitters by document frequency)
# --------------------------------------------------------------------------

BOILERPLATE_TOP_K = 20


@query
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 5-token shingles by document frequency — the boilerplate
    detector (headers/footers/licenses repeat verbatim across documents).

    Shingles are distinct per doc, so one count per posting IS the document
    frequency: a single groupBy with map-side combine, then a global top-k
    (TakeOrdered — no full sort). At 100 TB this is the cheapest shape there
    is for heavy hitters; if even the shingle aggregate is too hot, cap with
    a count-min sketch first and verify the survivors exactly.
    """
    from komodo_data_spark.operators.dedup import _doc_postings

    posts = _doc_postings(spark, sf_dir, n=5)
    return (
        posts.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("g"))
        .limit(BOILERPLATE_TOP_K)
    )


def boilerplate_ngrams_oracle() -> str:
    t = sql_tokens()
    sh5 = sql_shingles("toks", 5)
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    e AS (SELECT doc_id, unnest({sh5}) AS g FROM d)
    SELECT g, count(*) AS df
    FROM e GROUP BY g
    ORDER BY df DESC, g ASC
    LIMIT {BOILERPLATE_TOP_K}
    """


# --------------------------------------------------------------------------
# document fingerprinting
# --------------------------------------------------------------------------


@query
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 of the normalized token stream (exact-dup
    key) plus the lexicographic-min md5 over 5-token shingles (a 1-coordinate
    MinHash — stable under small edits, the near-dup key)."""
    d = _docs(spark, sf_dir).withColumn("toks", tokens())
    sh5 = shingles(F.col("toks"), 5)
    return d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", "toks")).alias("content_fp"),
        F.array_min(F.transform(sh5, F.md5)).alias("min_shingle_fp"),
        F.size(sh5).alias("n_shingles"),
    )


def text_fingerprints_oracle() -> str:
    t = sql_tokens()
    sh5 = sql_shingles("toks", 5)
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    s AS (SELECT doc_id, toks, {sh5} AS sh5 FROM d)
    SELECT doc_id,
      md5(array_to_string(toks, ' ')) AS content_fp,
      list_min(list_transform(sh5, s -> md5(s))) AS min_shingle_fp,
      len(sh5) AS n_shingles
    FROM s
    """


# --------------------------------------------------------------------------
# rolling-hash fingerprints (Karp–Rabin polynomial, winnowing-lite)
# --------------------------------------------------------------------------

_RH_BASE = 31
_RH_MOD = 2_147_483_647  # 2^31 - 1: acc*31+255 < 2^36, exact in BIGINT
_RH_WIN = 8


@query
def text_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp–Rabin fingerprints: the full-document polynomial hash plus the
    minimum rolling hash over all 8-char windows (winnowing-lite — stable
    under edits outside the minimizing window, the classic near-dup key).

    All arithmetic is (acc*31 + byte) mod (2^31-1) — exact in 64-bit
    integers in both engines, so the fingerprints are bit-identical to the
    DuckDB oracle. The per-window fold is an interpreted higher-order
    expression (O(len·8) per doc) — fine as a map-side projection; the
    100 TB restructure is posexplode(chars) + an 8-row sliding window, all
    codegen, at the cost of one shuffle on doc_id.
    """
    from komodo_data_spark.sources.tables import load_spread

    d = load_spread(spark, sf_dir, "documents")
    full = F.expr(
        f"aggregate(transform(sequence(1, length(text)), "
        f"i -> ascii(substring(text, i, 1))), 0L, "
        f"(acc, c) -> (acc * {_RH_BASE} + c) % {_RH_MOD})"
    )
    win = F.expr(
        f"CASE WHEN length(text) >= {_RH_WIN} THEN "
        f"array_min(transform(sequence(1, length(text) - {_RH_WIN - 1}), "
        f"i -> aggregate(sequence(0, {_RH_WIN - 1}), 0L, "
        f"(acc, k) -> (acc * {_RH_BASE} + ascii(substring(text, i + k, 1)))"
        f" % {_RH_MOD}))) ELSE NULL END"
    )
    return d.select(
        "doc_id", full.alias("poly_hash"), win.alias("winnow_fp")
    )


def text_rolling_fingerprints_oracle() -> str:
    fold = f"(acc, c) -> (acc * {_RH_BASE} + c) % {_RH_MOD}"
    # accumulator must start life as BIGINT: an INT32 seed overflows at
    # acc*31 (DuckDB list_reduce types the fold from its inputs)
    codes = (
        "list_transform(range(1, length(text) + 1),"
        " i -> ascii(substr(text, i, 1))::BIGINT)"
    )
    wcodes = (
        f"list_transform(range(i, i + {_RH_WIN}),"
        " k -> ascii(substr(text, k, 1))::BIGINT)"
    )
    return f"""
    SELECT doc_id,
      list_reduce(list_prepend(0::BIGINT, {codes}), {fold}) AS poly_hash,
      CASE WHEN length(text) >= {_RH_WIN} THEN
        list_min(list_transform(range(1, length(text) - {_RH_WIN - 2}),
          i -> list_reduce(list_prepend(0::BIGINT, {wcodes}), {fold})))
      ELSE NULL END AS winnow_fp
    FROM documents
    """


# --------------------------------------------------------------------------
# repetition / degeneracy quality signals (Gopher-style)
# --------------------------------------------------------------------------


#: text_compression_ratio keep band: below the floor the doc is
#: degenerate repetition (zlib collapses it); above the ceiling it is
#: random-ish/binary-like text. The public RedPajama/Gopher-family
#: pipelines use exactly this zlib-ratio signal with a keep band.
COMPRESSION_KEEP_MIN = 0.25
COMPRESSION_KEEP_MAX = 0.95


@query(oracle=None)  # zlib has no SQL twin: rows-only; exact pytest pin
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression ratio per document — the classic cheap quality
    signal (degenerate repetition compresses to almost nothing; random or
    binary-like text barely compresses), with a keep flag for the
    standard band. zlib has no Catalyst or DuckDB counterpart, so this is
    one of the few legitimately-Python operators: ONE Arrow-batched
    mapInPandas stage (batch-level C calls into zlib, only four small
    columns return to the JVM), zero shuffle — the same map-only shape as
    the multimodal pack. Rows-only at the driver gate; the exact twin is
    the pytest pin against CPython's zlib on the same corpus
    (``tests/test_extensions.py``), which is bit-deterministic for a
    fixed level.

    100 TB: map-only over the scan with column pruning (doc_id, text);
    cost is zlib at ~100 MB/s/core — the same order as tokenization, and
    embarrassingly parallel."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return compression_frame(d).orderBy("doc_id")


def zlib_score_lists(texts):
    """The zlib scoring MATH on a list of texts, as plain lists — THE
    shared definition: ``compression_frame`` (batch) and the streaming
    gate's pass-through kernel (``streaming/compression_gate.py``) both
    call this, so they can never disagree on a document's ratio or keep
    verdict. Returns (n_bytes, zlib_bytes, ratio, keep); ratio is None
    for empty/NULL text and keep is False there."""
    import zlib

    raw = [t.encode("utf-8") if t is not None else b"" for t in texts]
    n_bytes = [len(b) for b in raw]
    n_zlib = [len(zlib.compress(b, 6)) for b in raw]
    ratio = [(z / n) if n > 0 else None for n, z in zip(n_bytes, n_zlib)]
    keep = [
        r is not None and COMPRESSION_KEEP_MIN <= r <= COMPRESSION_KEEP_MAX
        for r in ratio
    ]
    return n_bytes, n_zlib, ratio, keep


def compression_frame(d: DataFrame) -> DataFrame:
    """The zlib scoring kernel over a (doc_id, text) frame (one Arrow
    mapInPandas stage around :func:`zlib_score_lists`)."""
    from collections.abc import Iterator

    import pandas as pd

    def ratios(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # plain lists, not index-carrying Series: a pandas batch's
            # index must never leak into column alignment here
            n_bytes, n_zlib, ratio, keep = zlib_score_lists(
                pdf["text"].tolist()
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_bytes": pd.array(n_bytes, dtype="int64"),
                    "zlib_bytes": pd.array(n_zlib, dtype="int64"),
                    "compression_ratio": pd.array(ratio, dtype="float64"),
                    "keep": keep,
                }
            )

    return d.mapInPandas(
        ratios,
        schema=(
            "doc_id long, n_bytes long, zlib_bytes long, "
            "compression_ratio double, keep boolean"
        ),
    )


@query
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals in the style of the Gopher quality
    rules (Rae et al. 2021, public paper): the fraction of tokens taken by
    the single most frequent token, the fraction of bigram occurrences that
    are repeats, and the token-distribution entropy. Degenerate (looping,
    boilerplate-heavy) documents score high top-fraction / low entropy.

    Scale design: one narrow projection, zero shuffles. Per-row cost is
    O(distinct_tokens x tokens) via higher-order array functions — all
    whole-stage codegen, no Python. At 100 TB this is a pure map stage
    fused with the parquet scan (only doc_id/text read).
    """
    toks = tokens()
    d = _docs(spark, sf_dir).select("doc_id", toks.alias("toks"))
    n = F.size("toks")
    distinct = F.array_distinct("toks")
    counts = F.transform(
        distinct,
        lambda t: F.size(F.filter(F.col("toks"), lambda x: x == t)),
    )
    # non-distinct bigram list (shingles() would dedup, which we don't want)
    m = n - 1
    bigrams = F.zip_with(
        F.slice("toks", 1, m),
        F.slice("toks", 2, m),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    p = lambda c: c.cast("double") / n  # noqa: E731
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        p(F.array_max(counts)).alias("top_unigram_frac"),
        F.when(m > 0, F.lit(1.0) - F.size(F.array_distinct(bigrams)) / m.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
        (
            -F.aggregate(
                counts,
                F.lit(0.0),
                lambda acc, c: acc + p(c) * F.log2(p(c)),
            )
        ).alias("token_entropy"),
    )


def text_repetition_signals_oracle() -> str:
    t = sql_tokens()
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    c AS (
      SELECT doc_id, toks, len(toks) AS n,
        list_transform(list_distinct(toks),
          d -> len(list_filter(toks, t -> t = d))) AS counts,
        [toks[i] || ' ' || toks[i+1] for i in range(1, greatest(len(toks) - 1, 0) + 1)]
          AS bigrams
      FROM d
    )
    SELECT doc_id,
      n AS n_tokens,
      list_max(counts)::DOUBLE / n AS top_unigram_frac,
      CASE WHEN n > 1
        THEN 1.0::DOUBLE - len(list_distinct(bigrams))::DOUBLE / (n - 1)
        ELSE 0.0::DOUBLE END AS dup_bigram_frac,
      -list_sum(list_transform(counts,
          c -> (c::DOUBLE / n) * log2(c::DOUBLE / n))) AS token_entropy
    FROM c
    """


# --------------------------------------------------------------------------
# model-based quality classifier (fixed-weight logistic scorer)
# --------------------------------------------------------------------------

#: Logistic-regression weights for the quality gate. In production these
#: come from a model trained offline (fastText/LR over labeled quality
#: judgments); here they are fixed constants so the operator is
#: deterministic and oracle-checkable. The SHAPE is the point: broadcast
#: weights, map-side featurize + dot + sigmoid, no shuffle until the
#: decision aggregate.
QUALITY_LR_WEIGHTS = {
    "bias": -1.0,
    "log_n_tokens": 0.55,
    "type_token_ratio": 1.8,
    "stopword_ratio": 2.2,
    "mean_word_len": -0.12,
}
QUALITY_LR_KEEP_THRESHOLD = 0.5


def quality_probability_col():
    """The classifier's keep-probability as a reusable Column over a frame
    that already carries ``toks`` (array<string>) — one codegen'd
    projection, shared between the batch rollup below and the streaming
    corpus gate (streaming/corpus_stream.py)."""
    stop = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    n_tok = F.size("toks")
    w = QUALITY_LR_WEIGHTS
    z = (
        F.lit(w["bias"])
        + F.lit(w["log_n_tokens"]) * F.log(n_tok + F.lit(1.0))
        + F.lit(w["type_token_ratio"])
        * (F.size(F.array_distinct("toks")).cast("double") / n_tok)
        + F.lit(w["stopword_ratio"])
        * (
            F.expr(f"size(filter(toks, t -> t IN ({stop})))").cast("double")
            / n_tok
        )
        + F.lit(w["mean_word_len"])
        * (
            F.aggregate(
                F.transform("toks", F.length),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / n_tok
        )
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


@query
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: featurize each document (log token
    count, type-token ratio, stopword ratio, mean word length), apply a
    linear model + sigmoid, keep docs with p >= threshold. The whole scorer
    is ONE codegen'd projection — at 100 TB this runs at scan speed with
    zero shuffles; only the per-source decision rollup aggregates (tiny).
    Swapping in real trained weights (or a quantized MLP as a pandas_udf)
    changes no plan shape."""
    from komodo_data_spark.sources.tables import load_spread

    d = load_spread(spark, sf_dir, "documents").withColumn("toks", tokens())
    p = quality_probability_col()
    scored = d.select(
        "doc_id", "source", p.alias("p_keep"),
        (p >= QUALITY_LR_KEEP_THRESHOLD).alias("keep"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum("p_keep").alias("sum_p_keep"),
    )


def text_quality_classifier_oracle() -> str:
    t = sql_tokens()
    stop = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    w = QUALITY_LR_WEIGHTS
    z = (
        f"{w['bias']} "
        f"+ {w['log_n_tokens']} * ln(len(toks) + 1.0) "
        f"+ {w['type_token_ratio']}"
        f" * (len(list_distinct(toks))::DOUBLE / len(toks)) "
        f"+ {w['stopword_ratio']}"
        f" * (len(list_filter(toks, t -> t IN ({stop})))::DOUBLE / len(toks)) "
        f"+ {w['mean_word_len']}"
        f" * (list_sum(list_transform(toks, t -> length(t)::DOUBLE))"
        f" / len(toks))"
    )
    return f"""
    WITH d AS (SELECT doc_id, source, {t} AS toks FROM documents),
    scored AS (
      SELECT doc_id, source,
             1.0 / (1.0 + exp(-({z}))) AS p_keep
      FROM d
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN p_keep >= {QUALITY_LR_KEEP_THRESHOLD}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           sum(p_keep) AS sum_p_keep
    FROM scored GROUP BY source
    """


# --------------------------------------------------------------------------
# n-gram language models: one gram explode, one count fold, one KN scorer
# --------------------------------------------------------------------------

#: The count fold's order tag, also the ``kind`` column of the streaming
#: trigram store (streaming/kn3_incremental.py).
_KINDS = {2: "bi", 3: "tri"}


def _grams(d: DataFrame, orders=(2,), carry=()) -> DataFrame:
    """Positional n-grams of each document's whitespace tokens, one row
    per occurrence (duplicates kept: each occurrence scores): the
    ``carry`` columns, the gram string ``g`` and its
    :func:`_gram_tokens`. All ``orders`` come from one tokenize in one
    explode; a token column a caller does not read is never computed."""
    from komodo_data_spark.operators.dedup import _positional_grams

    grams = F.concat(*(_positional_grams(F.col("toks"), n) for n in orders))
    return _gram_tokens(
        # two-step select: every order reads "toks", and CollapseProject
        # keeps the non-cheap split() single-evaluated. The explode takes
        # the gram array as an expression, not a column: a column would be
        # serialized into a row first (measured slower at sf0.1, 4 cores).
        d.select(*carry, tokens().alias("toks")).select(
            *carry, F.explode(grams).alias("g")
        )
    )


def _gram_tokens(df: DataFrame) -> DataFrame:
    """``df`` plus its gram ``g``'s order tag ``kind`` and tokens ``u``,
    ``v``, ``w`` (``v`` NULL for bigrams). Whitespace tokens never contain
    the separator, so splitting at it is exact, and a trigram is the gram
    with a second one."""
    g = F.col("g")
    tri = F.substring_index(g, " ", 2) != g
    return df.withColumns(
        {
            "kind": F.when(tri, _KINDS[3]).otherwise(_KINDS[2]),
            "u": F.substring_index(g, " ", 1),
            "v": F.when(tri, F.substring_index(F.substring_index(g, " ", 2), " ", -1)),
            "w": F.substring_index(g, " ", -1),
        }
    )


def _gram_counts(d: DataFrame, orders=(2,)) -> DataFrame:
    """The n-gram models' only corpus-sized aggregate: occurrence counts
    ``n`` per gram ``g``, every order through one exchange, split into
    its tokens per type, not per occurrence. Counts are additive across
    document batches, so the streaming trigram store folds per-batch
    partials of this frame into the batch model."""
    counts = _grams(d, orders).groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    return _gram_tokens(counts)


def _kn_score(
    grams: DataFrame, counts: DataFrame, order: int, alpha: float, by: list
) -> DataFrame:
    """Count and average natural-log probability, per ``by`` group, of
    the order-``order`` ``grams`` under the interpolated Kneser-Ney model
    of ``counts`` (a :func:`_gram_counts` frame with the bigram kind and,
    for order 3, the trigram kind):

      P3(w|u,v) = max(c(uvw)-D,0)/c(uv·) + D·N1+(uv·)/c(uv·) · P2(w|v)
      P2(w|v)   = max(c2(vw)-D,0)/c2(v·) + D·N1+(v·)/c2(v·) · P1(w)
      P1(w)     = (N1+(·w) + a) / (T + a·(V+1))

    A bigram model's top level is P2, its context named u and c2 the
    bigram count; in a trigram model c2 is the continuation count
    N1+(·vw) over trigram types. The bottom level is always the bigram
    types: N1+(·w) distinct left contexts of w, T bigram types, V
    continuation types. An unseen context scores the level below alone
    (``when(context seen)``), and ``alpha`` is the add-a OOV mass. Fit
    on the scored corpus itself, every event is seen: the LEFT joins act
    as inner joins, and with ``alpha`` 0 the floor is N1+(·w)/T.

    Every model frame is a type-level aggregate over ``counts``; the
    one-row totals ride a broadcast. The arithmetic is left-to-right, as
    in the oracle SQL."""
    d_, a = F.lit(KN_DISCOUNT), F.lit(alpha)

    def kind(k: str) -> DataFrame:
        return counts.filter(F.col("kind") == k).withColumnRenamed("n", "c")

    bi = kind(_KINDS[2]).select("u", "w", "c")
    if order == 2:
        levels = [(["u"], bi)]
    else:
        tri = kind(_KINDS[3]).select("u", "v", "w", "c")
        mid = tri.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c"))
        levels = [(["u", "v"], tri), (["v"], mid)]
    cont = bi.groupBy("w").agg(F.count(F.lit(1)).alias("n1p_w"))
    # the null filter the cont join infers: the totals then reuse the
    # join's continuation shuffle instead of running their own
    totals = cont.filter(F.col("w").isNotNull()).agg(
        F.coalesce(F.sum("n1p_w"), F.lit(0)).alias("t_types"),
        F.count(F.lit(1)).alias("v_types"),
    )
    scored = grams
    for i, (ctx, m) in enumerate(levels):
        m = m.withColumnRenamed("c", f"c{i}")
        ctx_totals = m.groupBy(*ctx).agg(
            F.sum(f"c{i}").alias(f"t{i}"), F.count(F.lit(1)).alias(f"f{i}")
        )
        scored = scored.join(m, [*ctx, "w"], "left").join(ctx_totals, ctx, "left")
    # try_divide: a model with no bigram (T = 0, alpha 0) scores NULL
    # instead of raising
    p = F.try_divide(
        F.coalesce("n1p_w", F.lit(0)) + a,
        F.col("t_types") + a * (F.col("v_types") + 1),
    )
    for i in reversed(range(len(levels))):
        c, t, f = (F.col(f"{x}{i}") for x in "ctf")
        p = F.when(
            t.isNotNull(),
            F.greatest(F.coalesce(c, F.lit(0)) - d_, F.lit(0.0)) / t
            + d_ * f / t * p,
        ).otherwise(p)
    return (
        scored.join(cont, "w", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias(f"n_{_KINDS[order]}grams"),
            F.avg(F.log(p)).alias("avg_logprob_kn" + ("3" if order == 3 else "")),
        )
    )


# --------------------------------------------------------------------------
# corpus-fit bigram LM scoring (the perplexity-filter shape)
# --------------------------------------------------------------------------


@query
@shared_fit("bigram_logprob")
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score each document under the corpus's OWN empirical bigram
    distribution — the CCNet/Gopher "perplexity filter" shape with the
    n-gram LM fit and the scoring in one job. A doc whose bigrams are rare
    corpus-wide (boilerplate noise, wrong language, mangled encodings)
    scores low; the filter keeps the head of the distribution.

    Two stages, both distributed: (1) fit — the :func:`_gram_counts`
    bigram fold produces the count table (the "model" is a DataFrame, never
    driver-collected; at 100 TB the vocab² table can itself be large, which
    is exactly why it must stay distributed); (2) score — an equi-join of
    each doc's bigrams against the model plus a per-doc average of
    ln(count/total). Every candidate bigram exists in the model by
    construction (the corpus fit saw every doc), so the join is inner with
    no smoothing term; scoring NEW text against a frozen model would add
    left-join + floor probability, same plan shape. Output: per-doc bigram
    count, avg log-prob, and the keep verdict at the 25th-percentile-ish
    fixed threshold.

    A shared fit: the scored frame is doc-sized, and THREE registry
    queries consume it (this one and both CCNet bucketers —
    ``docs_perplexity_buckets``, ``docs_ppl_token_weighted_buckets``).
    """
    from komodo_data_spark.sources.tables import load_spread

    d = load_spread(spark, sf_dir, "documents")
    # vocab²-bounded count table, read twice (total + scoring join) —
    # eager localCheckpoint so the corpus explode+fold runs once, not
    # once per consumer (GC-released, never session-lifetime)
    model = _gram_counts(d).select("g", "n").localCheckpoint(eager=True)
    total = model.agg(F.sum("n").alias("n_total"))
    scored = (
        _grams(d, carry=["doc_id"])
        .join(model, "g")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(F.log(F.col("n") / F.col("n_total"))).alias("avg_logprob"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "avg_logprob",
        (F.col("avg_logprob") >= BIGRAM_LOGPROB_MIN).alias("keep"),
    )


#: Fixed keep threshold on the average bigram log-probability.
BIGRAM_LOGPROB_MIN = -9.2


def text_bigram_logprob_oracle() -> str:
    t = sql_tokens()
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    grams AS (
      SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
      FROM d, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS u(i)
    ),
    model AS (SELECT g, count(*) AS c FROM grams GROUP BY g),
    tot AS (SELECT sum(c) AS n_total FROM model),
    scored AS (
      SELECT grams.doc_id, count(*) AS n_bigrams,
             avg(ln(model.c / tot.n_total)) AS avg_logprob
      FROM grams JOIN model USING (g) CROSS JOIN tot
      GROUP BY grams.doc_id
    )
    SELECT doc_id, n_bigrams, avg_logprob,
           avg_logprob >= {BIGRAM_LOGPROB_MIN} AS keep
    FROM scored
    """


#: Interpolated Kneser-Ney: the standard fixed discount (Chen & Goodman
#: 1999 report 0.75 as the classic choice) and the keep threshold on the
#: per-doc average KN log-probability, sized like BIGRAM_LOGPROB_MIN from
#: the measured score distribution (25th percentile ~-3.405 at sf0.01 and
#: ~-3.408 at sf0.1 — KN scores sit far above the MLE scorer's because
#: interpolation floors every rare bigram at the continuation mass).
KN_DISCOUNT = 0.75
KN_LOGPROB_MIN = -3.41


@query
def text_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score each document under an interpolated Kneser-Ney bigram LM fit
    on the corpus itself — the smoothing family KenLM uses and the missing
    top rung of the engine's LM ladder (bigram MLE ``text_bigram_logprob``
    → unigram EM ``text_unigram_lm`` → KN). MLE scoring over-rewards docs
    made of a few very frequent bigrams; KN discounts every seen bigram by
    a fixed D and redistributes that mass through the CONTINUATION
    probability (how many distinct contexts a word follows), which is what
    separates genuinely fluent text from boilerplate that repeats one
    frequent pattern.

    P(w|u) = max(c(u,w) - D, 0)/c(u) + D·N1+(u,·)/c(u) · N1+(·,w)/N1+(·,·)

    Scale design: the model is never driver-collected — bigram counts
    (the map-side-combinable :func:`_gram_counts` fold), then per-context
    totals c(u) and fan-outs N1+(u,·) and continuation counts N1+(·,w),
    each an aggregate OVER THE MODEL, i.e. over types not tokens. Scoring
    is :func:`_kn_score` with no OOV mass: every bigram exists in the
    model by construction (the fit saw every doc), so no back-off fires
    and the floor is N1+(·,w)/N1+(·,·). All arithmetic is codegen'd; the
    oracle mirrors it with the same left-to-right operation order.
    """
    from komodo_data_spark.sources.tables import load_spread

    d = load_spread(spark, sf_dir, "documents")
    # the count fold is read by every model frame and the scoring joins;
    # un-checkpointed, each read re-ran the corpus tokenize+explode+fold
    # (5 corpus passes in the unrolled plan, 34 Exchanges). One eager
    # localCheckpoint = one corpus fold, type-bounded blocks, GC-released.
    counts = _gram_counts(d).localCheckpoint(eager=True)
    scored = _kn_score(_grams(d, carry=["doc_id"]), counts, 2, 0.0, ["doc_id"])
    return scored.withColumn("keep", F.col("avg_logprob_kn") >= KN_LOGPROB_MIN)


def text_kneser_ney_logprob_oracle() -> str:
    t = sql_tokens()
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    grams AS (
      SELECT doc_id, toks[i] AS u, toks[i + 1] AS w
      FROM d, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS q(i)
    ),
    model AS (SELECT u, w, count(*) AS c FROM grams GROUP BY u, w),
    ctx AS (
      SELECT u, sum(c) AS c_u, count(*) AS n1p_u FROM model GROUP BY u
    ),
    cont AS (SELECT w, count(*) AS n1p_w FROM model GROUP BY w),
    ty AS (SELECT count(*) AS t_types FROM model),
    scored AS (
      SELECT g.doc_id, count(*) AS n_bigrams,
             avg(ln(
               greatest(m.c - {KN_DISCOUNT}, 0.0) / ctx.c_u
               + {KN_DISCOUNT} * ctx.n1p_u / ctx.c_u * cont.n1p_w / ty.t_types
             )) AS avg_logprob_kn
      FROM grams g
      JOIN model m USING (u, w)
      JOIN ctx USING (u)
      JOIN cont USING (w)
      CROSS JOIN ty
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_bigrams, avg_logprob_kn,
           avg_logprob_kn >= {KN_LOGPROB_MIN} AS keep
    FROM scored
    """


#: Keep threshold for the trigram KN scorer. Lower than the bigram
#: KN_LOGPROB_MIN because trigram contexts are sparser (more mass flows
#: through the discounted back-off terms on a small corpus).
KN3_LOGPROB_MIN = -4.25


@query
def text_kneser_ney3_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score each document under an interpolated TRIGRAM Kneser-Ney LM fit
    on the corpus itself — completing the LM ladder to KenLM parity
    (round-9 verdict ask #5): KenLM-style perplexity filters are trigram+
    with recursive back-off, and ``text_kneser_ney_logprob``'s bigram
    model is exactly the distribution this model recurses INTO.

    The recursion (Chen & Goodman's interpolated KN):

      P3(w|u,v) = max(c(uvw)-D,0)/c(uv·) + D·N1+(uv·)/c(uv·) · P2c(w|v)
      P2c(w|v)  = max(N1+(·vw)-D,0)/N1+(·v·)
                    + D·N1+(v·)/N1+(·v·) · P1c(w)
      P1c(w)    = N1+(·w)/N1+(··)

    where the MIDDLE order's counts are continuation counts derived from
    trigram TYPES (N1+(·vw) = distinct left contexts of bigram vw — the
    KN signature move, repeated one level up), and the BOTTOM order is
    the bigram model's continuation unigram verbatim (corpus bigram
    types, the one deliberate boundary choice: the corpus's own bigram
    inventory rather than the trigram-derived one differs only at
    document edges, and it keeps the two ladder rungs sharing one
    distribution — mirrored identically in the oracle).

    Scale design: the model is never collected — the trigram and bigram
    counts of one :func:`_gram_counts` fold (the only corpus-sized
    shuffle), then ctx/continuation frames computed over TYPES, not
    tokens (each strictly smaller than the model). Scoring is
    :func:`_kn_score` with no OOV mass; fit-on-self sees every event, so
    no back-off fires. Arithmetic is codegen'd with left-to-right order
    mirrored in the oracle.
    """
    from komodo_data_spark.sources.tables import load_spread

    d = load_spread(spark, sf_dir, "documents")
    # both orders' counts from one tokenize and one exchange, read by the
    # type-level model frames and the scoring joins — one eager
    # localCheckpoint = one corpus fold total instead of one per consumer
    counts = _gram_counts(d, (3, 2)).localCheckpoint(eager=True)
    scored = _kn_score(_grams(d, (3,), ["doc_id"]), counts, 3, 0.0, ["doc_id"])
    return scored.withColumn("keep", F.col("avg_logprob_kn3") >= KN3_LOGPROB_MIN)


def text_kneser_ney3_logprob_oracle() -> str:
    t = sql_tokens()
    D = KN_DISCOUNT
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    g3 AS (
      SELECT doc_id, toks[i] AS u, toks[i + 1] AS v, toks[i + 2] AS w
      FROM d, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS q(i)
    ),
    m3 AS (SELECT u, v, w, count(*) AS c FROM g3 GROUP BY u, v, w),
    ctx3 AS (
      SELECT u, v, sum(c) AS c_uv, count(*) AS n1p_uv
      FROM m3 GROUP BY u, v
    ),
    m2c AS (SELECT v, w, count(*) AS n1p_vw FROM m3 GROUP BY v, w),
    ctx2 AS (
      SELECT v, sum(n1p_vw) AS t_v, count(*) AS n1p_v
      FROM m2c GROUP BY v
    ),
    g2 AS (
      SELECT toks[i] AS u2, toks[i + 1] AS w
      FROM d, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS q(i)
    ),
    m2 AS (SELECT u2, w, count(*) AS c2 FROM g2 GROUP BY u2, w),
    cont AS (SELECT w, count(*) AS n1p_w FROM m2 GROUP BY w),
    ty AS (SELECT count(*) AS t_types FROM m2),
    scored AS (
      SELECT g.doc_id, count(*) AS n_trigrams,
             avg(ln(
               greatest(m3.c - {D}, 0.0) / ctx3.c_uv
               + {D} * ctx3.n1p_uv / ctx3.c_uv
                 * (greatest(m2c.n1p_vw - {D}, 0.0) / ctx2.t_v
                    + {D} * ctx2.n1p_v / ctx2.t_v
                      * cont.n1p_w / ty.t_types)
             )) AS avg_logprob_kn3
      FROM g3 g
      JOIN m3 USING (u, v, w)
      JOIN ctx3 USING (u, v)
      JOIN m2c USING (v, w)
      JOIN ctx2 USING (v)
      JOIN cont USING (w)
      CROSS JOIN ty
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_trigrams, avg_logprob_kn3,
           avg_logprob_kn3 >= {KN3_LOGPROB_MIN} AS keep
    FROM scored
    """


@query
def text_kneser_ney3_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score EVERY document under a trigram Kneser-Ney model fit ONLY on
    the train split — the frozen-model twin of
    ``text_kneser_ney3_logprob``, mirroring the bigram pair
    (``text_kneser_ney_apply``): fit/score share the engine's split
    definition, scoring joins are LEFT joins, and unseen events back off
    RECURSIVELY — an unseen trigram context (u,v) scores the bigram
    continuation P2c(w|v) alone, an unseen middle context v scores the
    smoothed unigram continuation alone, and the unigram continuation is
    add-alpha smoothed over seen types plus one shared OOV bucket
    ((N1+(·w)+a)/(T + a·(V+1))), so every trigram gets positive mass.

    Scale design: the fit-on-self op's fold and scorer
    (:func:`_kn_score` with ``KN_OOV_ALPHA``) plus the split predicate
    pushed to the fit's scan — a 100 TB score pass against a frozen model
    reads the model frames, not the train corpus.
    """
    from komodo_data_spark.operators.pipeline_ops import _split_col
    from komodo_data_spark.sources.tables import load_spread

    d = load_spread(spark, sf_dir, "documents").withColumn("split", _split_col())
    # one eager localCheckpoint = one train-split fold: un-checkpointed,
    # the null filters each model frame's join infers are pushed below the
    # fold's aggregate, and every model frame re-runs the fold
    counts = _gram_counts(d.filter(F.col("split") == "train"), (3, 2)).localCheckpoint(
        eager=True
    )
    keys = ["doc_id", "split"]
    return _kn_score(_grams(d, (3,), keys), counts, 3, KN_OOV_ALPHA, keys)


def text_kneser_ney3_apply_oracle() -> str:
    from komodo_data_spark.operators.pipeline_ops import _sql_split_case

    t = sql_tokens()
    D = KN_DISCOUNT
    a = KN_OOV_ALPHA
    p1 = (
        f"((coalesce(cont.n1p_w, 0) + {a}::DOUBLE)"
        f" / (ty.t_types + {a}::DOUBLE * (ty.v_types + 1)))"
    )
    p2 = f"""CASE WHEN ctx2.t_v IS NOT NULL THEN
        greatest(coalesce(m2c.n1p_vw, 0) - {D}::DOUBLE, 0.0) / ctx2.t_v
        + {D}::DOUBLE * ctx2.n1p_v / ctx2.t_v * {p1}
      ELSE {p1} END"""
    return f"""
    WITH d AS (
      SELECT doc_id, {_sql_split_case()} AS split, {t} AS toks
      FROM documents
    ),
    g3 AS (
      SELECT doc_id, split,
             toks[i] AS u, toks[i + 1] AS v, toks[i + 2] AS w
      FROM d, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS q(i)
    ),
    m3 AS (
      SELECT u, v, w, count(*) AS c FROM g3 WHERE split = 'train'
      GROUP BY u, v, w
    ),
    ctx3 AS (
      SELECT u, v, sum(c) AS c_uv, count(*) AS n1p_uv
      FROM m3 GROUP BY u, v
    ),
    m2c AS (SELECT v, w, count(*) AS n1p_vw FROM m3 GROUP BY v, w),
    ctx2 AS (
      SELECT v, sum(n1p_vw) AS t_v, count(*) AS n1p_v
      FROM m2c GROUP BY v
    ),
    g2 AS (
      SELECT toks[i] AS u2, toks[i + 1] AS w
      FROM d, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS q(i)
      WHERE split = 'train'
    ),
    m2 AS (SELECT u2, w, count(*) AS c2 FROM g2 GROUP BY u2, w),
    cont AS (SELECT w, count(*) AS n1p_w FROM m2 GROUP BY w),
    ty AS (
      SELECT (SELECT count(*) FROM m2) AS t_types,
             (SELECT count(*) FROM cont) AS v_types
    )
    SELECT g.doc_id, g.split, count(*) AS n_trigrams,
           avg(ln(
             CASE WHEN ctx3.c_uv IS NOT NULL THEN
               greatest(coalesce(m3.c, 0) - {D}::DOUBLE, 0.0) / ctx3.c_uv
               + {D}::DOUBLE * ctx3.n1p_uv / ctx3.c_uv * ({p2})
             ELSE ({p2}) END
           )) AS avg_logprob_kn3
    FROM g3 g
    LEFT JOIN m3 USING (u, v, w)
    LEFT JOIN ctx3 USING (u, v)
    LEFT JOIN m2c USING (v, w)
    LEFT JOIN ctx2 USING (v)
    LEFT JOIN cont USING (w)
    CROSS JOIN ty
    GROUP BY g.doc_id, g.split
    """


@query
def source_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram diversity: distinct vs total 3-token shingles and
    their type-token ratio — the corpus-health signal that drops when a
    source is template-generated, scraper-duplicated, or model-generated
    (degenerate sources repeat shingles, so diversity collapses while raw
    token counts look fine). Complements the per-document
    ``text_repetition_signals`` with the per-SOURCE roll-up a mixing
    decision actually consumes.

    Scale design: total counts collapse map-side. The distinct count uses
    the two-stage shape (groupBy(source, shingle) → groupBy(source)), so
    the first shuffle is keyed by the high-cardinality (source, shingle)
    pair — never by the handful of hot source values — and the second
    aggregates a few rows per source per partition; the same skew-proof
    pattern as ``events_distinct_users_two_stage``.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", shingles(tokens(), 3).alias("sh")
    )
    ex = exploded(d, F.col("sh"), "g", "source")
    distinct = (
        ex.groupBy("source", "g")
        .agg(F.count(F.lit(1)).alias("n_g"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("distinct_shingles"),
            F.sum("n_g").alias("total_shingles"),
        )
    )
    docs = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        docs.join(distinct, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("total_shingles", F.lit(0)).alias("total_shingles"),
            F.coalesce("distinct_shingles", F.lit(0)).alias(
                "distinct_shingles"
            ),
            F.when(
                F.coalesce("total_shingles", F.lit(0)) > 0,
                F.col("distinct_shingles").cast("double")
                / F.col("total_shingles"),
            ).alias("diversity"),
        )
        .orderBy("source")
    )


def source_ngram_diversity_oracle() -> str:
    sh = sql_shingles(sql_tokens(), 3)
    return f"""
    WITH d AS (SELECT doc_id, source, {sh} AS sh FROM documents),
    ex AS (SELECT source, g FROM d, unnest(d.sh) AS u(g)),
    agg AS (
      SELECT source, COUNT(DISTINCT g) AS distinct_shingles,
             COUNT(*) AS total_shingles
      FROM ex GROUP BY source
    )
    SELECT docs.source, docs.n_docs,
           coalesce(agg.total_shingles, 0) AS total_shingles,
           coalesce(agg.distinct_shingles, 0) AS distinct_shingles,
           CASE WHEN coalesce(agg.total_shingles, 0) > 0
                THEN agg.distinct_shingles::DOUBLE / agg.total_shingles
                ELSE NULL END AS diversity
    FROM (SELECT source, COUNT(*) AS n_docs FROM d GROUP BY source) docs
    LEFT JOIN agg USING (source)
    ORDER BY docs.source
    """


@query
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smooth idf = ln((N+1)/(df+1)) + 1).

    Classic two-aggregation shape: term frequencies shuffle on (doc, term),
    document frequencies on term; the df side is |vocab| rows — broadcast
    back to the tf side, so only the tf aggregation touches corpus-scale
    data. This is TF-IDF as plain DataFrame algebra (no MLlib pipeline
    state), which keeps it incremental-friendly and oracle-checkable.
    """
    from komodo_data_spark.sources.tables import load_spread

    d = load_spread(spark, sf_dir, "documents").withColumn("toks", tokens())
    n_docs = d.count()  # scalar; one job over doc_id only (column-pruned)
    terms = exploded(d, F.col("toks"), "term", "doc_id")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf already holds one row per distinct (doc, term): count rows per
    # term instead of re-exploding + distinct-shuffling the whole corpus.
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = (
        F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0
    ).alias("idf")
    scored = tf.join(F.broadcast(df_.select("term", idf)), "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.col("idf")).alias("tfidf"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


def text_tfidf_top_terms_oracle() -> str:
    t = sql_tokens()
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    terms AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df
           FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
      ) AS rnk FROM scored
    )
    SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 3
    """


# --------------------------------------------------------------------------
# count-min sketch document-frequency estimation
# --------------------------------------------------------------------------

CM_WIDTH = 1024
CM_DEPTH = 4


@query
def boilerplate_ngrams_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch document-frequency estimates for the exact top-20
    boilerplate shingles: (g, df_exact, df_cm) with df_cm >= df_exact by
    construction.

    The sketch is W×D = 4096 counter cells built by ONE aggregate per depth
    row over the postings — fully mergeable (cells add), so at 100 TB it
    builds map-side with partial aggregation and the reduce moves only
    4096 longs per partition, never the shingle strings. Estimation reads
    the min over each key's D cells. Hashes are md5-derived, so the whole
    sketch is deterministic and engine-portable — the DuckDB oracle builds
    the identical sketch.
    """
    from komodo_data_spark.operators.dedup import _doc_postings

    # EAGER (was lazy): the exact-df aggregate and the sketch pass read
    # the 5-gram postings as concurrent AQE stage jobs of one action —
    # the lazy form re-ran the corpus shingle explode per consumer
    # (job-time sum 1.43 s vs 1.30 s wall); GC-released either way
    posts = _doc_postings(spark, sf_dir, n=5).localCheckpoint(eager=True)
    top = (
        posts.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df_exact"))
        .orderBy(F.desc("df_exact"), F.asc("g"))
        .limit(BOILERPLATE_TOP_K)
    )

    def bucket(j, col):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"cm{j}|"), col)), 1, 8), 16, 10
            ).cast("long")
            % CM_WIDTH
        )

    # ONE pass over the postings: each row emits its D (depth, bucket)
    # coordinates and a single partial-aggregated groupBy folds them —
    # the map-side combine caps every partition's output at W×D cells, so
    # the explode's 4× row fan-out never reaches the shuffle. (The
    # union-of-D-aggregates form re-scanned the postings D times.)
    coords = F.array(
        *[
            F.struct(
                F.lit(j).alias("depth"), bucket(j, F.col("g")).alias("bucket")
            )
            for j in range(CM_DEPTH)
        ]
    )
    cells = (
        posts.select(F.explode(coords).alias("db"))
        .select("db.depth", "db.bucket")
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probes = top.select(
        "g",
        "df_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("depth"),
                        bucket(j, F.col("g")).alias("bucket"),
                    )
                    for j in range(CM_DEPTH)
                ]
            )
        ).alias("p"),
    ).select("g", "df_exact", "p.depth", "p.bucket")
    return (
        probes.join(cells, ["depth", "bucket"])
        .groupBy("g", "df_exact")
        .agg(F.min("cnt").alias("df_cm"))
    )


def boilerplate_ngrams_cm_oracle() -> str:
    t = sql_tokens()
    sh5 = sql_shingles("toks", 5)

    def bucket(j, expr):
        return (
            f"CAST('0x' || substr(md5('cm{j}|' || {expr}), 1, 8) AS UBIGINT)"
            f" % {CM_WIDTH}"
        )

    cell_sqls = " UNION ALL ".join(
        f"SELECT {j} AS depth, {bucket(j, 'g')} AS bucket, count(*) AS cnt "
        f"FROM e GROUP BY 1, 2"
        for j in range(CM_DEPTH)
    )
    probe_sqls = " UNION ALL ".join(
        f"SELECT g, df_exact, {j} AS depth, {bucket(j, 'g')} AS bucket FROM top"
        for j in range(CM_DEPTH)
    )
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    e AS (SELECT doc_id, unnest({sh5}) AS g FROM d),
    top AS (
      SELECT g, count(*) AS df_exact FROM e GROUP BY g
      ORDER BY df_exact DESC, g ASC LIMIT {BOILERPLATE_TOP_K}
    ),
    cells AS ({cell_sqls}),
    probes AS ({probe_sqls})
    SELECT p.g, p.df_exact, CAST(min(c.cnt) AS BIGINT) AS df_cm
    FROM probes p JOIN cells c ON c.depth = p.depth AND c.bucket = p.bucket
    GROUP BY p.g, p.df_exact
    """


# --------------------------------------------------------------------------
# source distribution shift (unigram KL divergence)
# --------------------------------------------------------------------------


@query
def source_unigram_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) over unigram distributions, per source — the
    distribution-shift score behind data-selection schemes (DSIR-style
    importance weighting ranks sources/docs by exactly this kind of
    n-gram likelihood ratio) and drift monitoring between crawl snapshots.

    Every token in a source also occurs in the corpus (the corpus IS the
    union), so the ratio is always defined — no smoothing term. Two
    aggregates (token×source counts; token totals) joined on the token
    key, then a per-source sum: all map-side combinable, output |sources|
    rows. At 100 TB the vocabulary table is the big intermediate; it stays
    distributed end-to-end (same argument as text_bigram_logprob).
    """
    from komodo_data_spark.sources.tables import load_spread

    d = load_spread(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode_outer(tokens()).alias("t")
    ).filter(F.col("t").isNotNull())
    # ONE corpus-scale aggregate; everything else derives from its (vocab ×
    # sources)-sized output: c_all(t) = Σ_src c_src(t), n_src = Σ_t c_src,
    # n_all = Σ everything. Deriving instead of re-aggregating the token
    # stream cuts the corpus scans from three to one (was 18 exchanges).
    src_counts = toks.groupBy("source", "t").agg(
        F.count(F.lit(1)).alias("c_src")
    ).localCheckpoint(eager=True)
    corpus_counts = src_counts.groupBy("t").agg(F.sum("c_src").alias("c_all"))
    src_totals = src_counts.groupBy("source").agg(
        F.sum("c_src").alias("n_src")
    )
    corpus_total = src_counts.agg(F.sum("c_src").alias("n_all"))
    p_src = F.col("c_src") / F.col("n_src")
    p_all = F.col("c_all") / F.col("n_all")
    return (
        src_counts.join(corpus_counts, "t")
        .join(F.broadcast(src_totals), "source")
        .crossJoin(F.broadcast(corpus_total))
        .groupBy("source")
        .agg(
            F.sum(p_src * F.log(p_src / p_all)).alias("kl_divergence"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
        )
    )


def source_unigram_divergence_oracle() -> str:
    t = sql_tokens()
    return f"""
    WITH toks AS (
      SELECT source, unnest({t}) AS t FROM documents
    ),
    src_counts AS (
      SELECT source, t, count(*) AS c_src FROM toks GROUP BY source, t
    ),
    corpus_counts AS (SELECT t, count(*) AS c_all FROM toks GROUP BY t),
    src_totals AS (
      SELECT source, sum(c_src) AS n_src FROM src_counts GROUP BY source
    ),
    corpus_total AS (SELECT sum(c_all) AS n_all FROM corpus_counts)
    SELECT s.source,
           sum((s.c_src::DOUBLE / st.n_src)
               * ln((s.c_src::DOUBLE / st.n_src)
                    / (c.c_all::DOUBLE / ct.n_all))) AS kl_divergence,
           count(*) AS n_distinct_tokens
    FROM src_counts s
    JOIN corpus_counts c USING (t)
    JOIN src_totals st USING (source)
    CROSS JOIN corpus_total ct
    GROUP BY s.source
    """


# --------------------------------------------------------------------------
# BM25 ranked retrieval (inverted-index scoring against a fixed query)
# --------------------------------------------------------------------------

#: Query terms for the retrieval demo (drawn from the corpus vocabulary).
BM25_QUERY = ["spark", "merge", "vector", "slow"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


@query
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents by BM25 score for a fixed bag-of-words query — the
    ranked-retrieval primitive a pipeline uses to pull eval-adjacent or
    topic-targeted documents out of a corpus (e.g. quality-targeted
    sampling, retrieval-based decontamination triage).

    Scoring is the Lucene BM25 form: idf = ln(1 + (N - df + 0.5)/(df + 0.5))
    (always positive), tf saturation k1=1.2, length normalization b=0.75.

    Scale design (inverted-index shape, no index materialized):
    - the IN-list filter on query terms runs **map-side before the
      shuffle**, so only postings for the |q| query terms — a vanishing
      fraction of corpus tokens — ever move; the (doc_id, term) partial
      count is Spark's map-side combine.
    - doc length rides along with the exploded rows (max aggregate), so no
      second corpus join is needed.
    - corpus constants (N, avgdl) are a one-row aggregate crossJoin-
      broadcast back in; df-per-term is |q| rows, broadcast.
    - final top-k is orderBy+limit → TakeOrderedAndProject (per-partition
      heaps + driver merge of k rows, never a global sort).
    """
    from komodo_data_spark.sources.tables import load_spread

    d = (
        load_spread(spark, sf_dir, "documents")
        .select("doc_id", tokens().alias("toks"))
        .withColumn("dl", F.size("toks"))
    )
    consts = d.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    hits = exploded(d, F.col("toks"), "term", "doc_id", "dl").filter(
        F.col("term").isin(BM25_QUERY)
    )
    tf = hits.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            "dl",
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("term_score"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("term_score").alias("bm25_score"),
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.max("dl").alias("dl"),
        )
        .orderBy(F.desc("bm25_score"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


def text_bm25_rank_oracle() -> str:
    t = sql_tokens()
    q = ", ".join(f"'{w}'" for w in BM25_QUERY)
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    dd AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
    consts AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dd),
    hits AS (
      SELECT doc_id, dl, u.term FROM dd, unnest(dd.toks) AS u(term)
      WHERE u.term IN ({q})
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
           FROM hits GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.dl,
             ln(1.0 + (c.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * ({BM25_K1} + 1.0))
             / (tf.tf + {BM25_K1}
                * (1.0 - {BM25_B} + {BM25_B} * tf.dl / c.avgdl)) AS term_score
      FROM tf JOIN df USING (term) CROSS JOIN consts c
    )
    SELECT doc_id, sum(term_score) AS bm25_score,
           count(*) AS n_terms_matched, max(dl) AS dl
    FROM scored GROUP BY doc_id
    ORDER BY bm25_score DESC, doc_id ASC LIMIT {BM25_TOPK}
    """


# --------------------------------------------------------------------------
# sparse TF-IDF cosine similarity (inverted-index candidate join)
# --------------------------------------------------------------------------

#: Rare-shingle candidate cap: only 3-token shingles appearing in <= this
#: many documents generate candidate pairs (identical role to
#: dedup.NGRAM_DF_CAP — a hot boilerplate shingle never joins).
TFIDF_PAIR_DF_CAP = 4
TFIDF_COS_THRESHOLD = 0.9


@query
def text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs whose unigram TF-IDF vectors have cosine similarity
    >= the threshold — the *sparse* (lexical) counterpart of the
    embedding-cosine near-dup detector: no model needed, and at web scale
    it is the classic inverted-index candidate join (the all-pairs
    similarity-search shape, cf. Bayardo et al., WWW'07).

    Scale design, mirroring ``dedup_ngram_pairs_capped`` for candidates:
    - candidate generation only from **rare 3-token shingles** (df <= cap):
      a postings self-join on a bounded-df shingle emits <= cap² pairs, so
      the join cost is sum_over_rare_shingles(df²) <= |rare| * cap² — never
      the quadratic blowup of a hot boilerplate shingle. (Unigrams are the
      wrong candidate key: every natural-language unigram is hot.)
    - the only corpus-width shuffles are the two frequency aggregates
      (per-doc distinct terms -> df, shingle -> df), both map-side
      combined with vocab-bounded results. Everything downstream of the
      candidate list — term counts, weights, norms, the dot product — is
      computed only for docs appearing in a candidate pair (left_semi),
      so its shuffles are candidate-bounded. The df table stays a
      DISTRIBUTED frame joined on term (AQE broadcasts it when it fits;
      at web scale, where vocab has hundreds of millions of
      typo/URL/id terms, it degrades to a shuffle join instead of
      breaking a broadcast limit).
    - the exact dot product joins THROUGH the candidate pair list: cand ⋈
      weights(doc_i) on doc_i, then ⋈ weights(doc_j) on (doc_j, term) —
      high-cardinality doc-id keys, |cand| × terms-per-doc rows, never a
      per-term join whose hot terms (df ≈ corpus size) square into
      billions of rows. Norms ride along as per-doc constants, so no
      separate norm join.
    """
    from komodo_data_spark.sources.tables import load_spread

    d = load_spread(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    n_docs = d.count()  # scalar; column-pruned count job
    df_ = (
        exploded(
            d.select("doc_id", F.array_distinct("toks").alias("dts")),
            F.col("dts"),
            "term",
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    sh = exploded(
        d.select("doc_id", shingles(F.col("toks"), 3).alias("sh")),
        F.col("sh"),
        "g",
        "doc_id",
    )
    rare = (
        sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("gdf"))
        .filter(F.col("gdf") <= TFIDF_PAIR_DF_CAP)
        .select("g")
    )
    postings = sh.join(F.broadcast(rare), "g")
    cand = (
        postings.alias("a")
        .join(postings.alias("b"), "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j")
        )
        .distinct()
        # tiny (bounded by |rare| * cap²) and consumed twice — the doc
        # semi-join and the dot-product join; lazy localCheckpoint so the
        # shingle candidate pipeline runs once and the blocks are
        # GC-released (a cache() entry outlives the query).
        .localCheckpoint(eager=False)
    )
    cand_docs = (
        cand.select(F.col("doc_i").alias("doc_id"))
        .union(cand.select("doc_j"))
        .distinct()
    )
    # TF weights + norms ONLY for candidate docs; df joined on term as a
    # distributed frame (no vocab-sized broadcast or single-row map — web
    # vocabularies don't fit a broadcast).
    ctf = (
        exploded(
            d.join(F.broadcast(cand_docs), "doc_id", "left_semi"),
            F.col("toks"),
            "term",
            "doc_id",
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = (
        ctf.join(df_, "term")
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * (
                    F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0))
                    + 1.0
                )
            ).alias("w"),
        )
        # candidate-bounded (|cand docs| × terms-per-doc) and consumed by
        # the norm aggregate plus both sides of the pair join — lazy
        # localCheckpoint so the semi-join + explode + df join run once,
        # GC-released.
        .localCheckpoint(eager=False)
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    wflat = w.join(norms, "doc_id")
    wi = wflat.select(
        F.col("doc_id").alias("doc_i"),
        "term",
        F.col("w").alias("w_i"),
        F.col("norm").alias("norm_i"),
    )
    wj = wflat.select(
        F.col("doc_id").alias("doc_j"),
        "term",
        F.col("w").alias("w_j"),
        F.col("norm").alias("norm_j"),
    )
    dots = (
        cand.join(wi, "doc_i")
        .join(wj, ["doc_j", "term"])
        .groupBy("doc_i", "doc_j")
        .agg(
            F.sum(F.col("w_i") * F.col("w_j")).alias("dot"),
            F.max("norm_i").alias("norm_i"),
            F.max("norm_j").alias("norm_j"),
        )
    )
    return (
        dots.select(
            "doc_i",
            "doc_j",
            (F.col("dot") / (F.col("norm_i") * F.col("norm_j"))).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= TFIDF_COS_THRESHOLD)
        .orderBy("doc_i", "doc_j")
    )


def text_tfidf_cosine_pairs_oracle() -> str:
    t = sql_tokens()
    sh = sql_shingles("toks", 3)
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    terms AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df
           FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS w
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    norms AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY doc_id),
    e AS (SELECT doc_id, unnest({sh}) AS g FROM d),
    rare AS (SELECT g FROM e GROUP BY g HAVING count(*) <= {TFIDF_PAIR_DF_CAP}),
    postings AS (SELECT e.g, e.doc_id FROM e JOIN rare USING (g)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
      FROM postings a JOIN postings b USING (g) WHERE a.doc_id < b.doc_id
    ),
    dots AS (
      SELECT c.doc_i, c.doc_j, sum(a.w * b.w) AS dot
      FROM cand c
      JOIN w a ON a.doc_id = c.doc_i
      JOIN w b ON b.doc_id = c.doc_j AND b.term = a.term
      GROUP BY c.doc_i, c.doc_j
    )
    SELECT d.doc_i, d.doc_j, d.dot / (ni.norm * nj.norm) AS cosine
    FROM dots d
    JOIN norms ni ON ni.doc_id = d.doc_i
    JOIN norms nj ON nj.doc_id = d.doc_j
    WHERE d.dot / (ni.norm * nj.norm) >= {TFIDF_COS_THRESHOLD}
    ORDER BY d.doc_i, d.doc_j
    """


# --------------------------------------------------------------------------
# Gopher-style per-document quality rule flags (audit shape)
# --------------------------------------------------------------------------
#
# The published Gopher / FineWeb rule banks gate documents on hard
# per-rule thresholds and record WHICH rule dropped each document — an
# audit artifact the score-based gates above (text_quality_scores,
# text_quality_classifier) don't produce. Thresholds here are the public
# Gopher word-level subset, loosened to the synthetic fixture's range so
# both verdicts occur.

GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MIN_STOP_DISTINCT = 2
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MAX_TOP_SHARE = 0.2

_RULE_ORDER = (
    ("word_count_ok", "word_count"),
    ("mean_word_len_ok", "mean_word_len"),
    ("stopword_ok", "stopwords"),
    ("alpha_ok", "alpha_ratio"),
    ("repetition_ok", "repetition"),
)


@query
def text_quality_rule_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality rule verdicts: one boolean per rule, the
    composite ``keep``, and the FIRST failed rule as ``drop_reason`` —
    the per-rule audit a curation run reviews before committing a filter.

    Scale design: one explode → groupBy(doc_id, term) → groupBy(doc_id).
    Every statistic (word count, mean word length, distinct-stopword
    count, alphabetic ratio, top-term share) derives from the per-term
    count frame, so a book-length document costs O(terms) shuffled rows —
    never a per-doc O(n·distinct) lambda over the token array, which is
    quadratic on exactly the repetitive documents the repetition rule
    exists to catch. Both shuffles key on high-cardinality doc_id: no
    skew, full map-side combine.
    """
    return _rule_flags_from_counts(_doc_term_counts(spark, sf_dir)).orderBy(
        "doc_id"
    )


def _doc_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc_id, term) occurrence counts — the shared base frame of the
    rule-flag audit AND the trained NB classifier (which caches it so the
    corpus is tokenized once for labels, vocabulary, and scoring)."""
    from komodo_data_spark.sources.tables import load_spread

    d = load_spread(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    return (
        exploded(d, F.col("toks"), "term", "doc_id")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _rule_flags_from_counts(counts: DataFrame) -> DataFrame:
    """Rule verdicts from the per-term count frame (unordered)."""
    stop = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    is_stop = F.expr(f"term IN ({stop})")
    is_alpha = F.col("term").rlike("[a-zA-Z]")
    stats = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        (
            F.sum(F.col("c") * F.length("term")).cast("double") / F.sum("c")
        ).alias("mean_len"),
        # term is UNIQUE within the group (counts is keyed by doc_id+term),
        # so distinct-stopword count is a plain conditional sum — avoids the
        # two-phase distinct-aggregate rewrite and its extra Exchange.
        F.sum(F.when(is_stop, F.lit(1)).otherwise(F.lit(0))).alias("n_stop"),
        (
            F.sum(F.when(is_alpha, F.col("c")).otherwise(F.lit(0))).cast(
                "double"
            )
            / F.sum("c")
        ).alias("alpha_ratio"),
        (F.max("c").cast("double") / F.sum("c")).alias("top_share"),
    )
    flags = stats.select(
        "doc_id",
        "n_words",
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS).alias(
            "word_count_ok"
        ),
        F.col("mean_len")
        .between(GOPHER_MIN_MEAN_LEN, GOPHER_MAX_MEAN_LEN)
        .alias("mean_word_len_ok"),
        (F.col("n_stop") >= GOPHER_MIN_STOP_DISTINCT).alias("stopword_ok"),
        (F.col("alpha_ratio") >= GOPHER_MIN_ALPHA_RATIO).alias("alpha_ok"),
        (F.col("top_share") <= GOPHER_MAX_TOP_SHARE).alias("repetition_ok"),
    )
    keep = F.lit(True)
    for flag, _ in _RULE_ORDER:
        keep = keep & F.col(flag)
    reason = F.lit(None).cast("string")
    for flag, name in reversed(_RULE_ORDER):
        reason = F.when(~F.col(flag), F.lit(name)).otherwise(reason)
    return flags.select("*", keep.alias("keep"), reason.alias("drop_reason"))


def text_quality_rule_flags_oracle() -> str:
    t = sql_tokens()
    stop = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    reason = "NULL"
    for flag, name in reversed(_RULE_ORDER):
        reason = f"CASE WHEN NOT {flag} THEN '{name}' ELSE {reason} END"
    keep = " AND ".join(flag for flag, _ in _RULE_ORDER)
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    e AS (SELECT doc_id, unnest(toks) AS term FROM d),
    counts AS (
      SELECT doc_id, term, count(*) AS c FROM e GROUP BY doc_id, term
    ),
    stats AS (
      SELECT doc_id,
        sum(c)::BIGINT AS n_words,
        sum(c * length(term))::DOUBLE / sum(c) AS mean_len,
        sum(CASE WHEN term IN ({stop}) THEN 1 ELSE 0 END)::BIGINT AS n_stop,
        sum(CASE WHEN regexp_matches(term, '[a-zA-Z]') THEN c ELSE 0 END)::DOUBLE
          / sum(c) AS alpha_ratio,
        max(c)::DOUBLE / sum(c) AS top_share
      FROM counts GROUP BY doc_id
    ),
    flags AS (
      SELECT doc_id, n_words,
        n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
          AS word_count_ok,
        mean_len BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN}
          AS mean_word_len_ok,
        n_stop >= {GOPHER_MIN_STOP_DISTINCT} AS stopword_ok,
        alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO} AS alpha_ok,
        top_share <= {GOPHER_MAX_TOP_SHARE} AS repetition_ok
      FROM stats
    )
    SELECT doc_id, n_words, word_count_ok, mean_word_len_ok, stopword_ok,
           alpha_ok, repetition_ok,
           ({keep}) AS keep,
           {reason} AS drop_reason
    FROM flags ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# trained quality classifier: multinomial Naive Bayes on weak rule labels
# --------------------------------------------------------------------------
#
# The modern pipeline shape (cf. the public fastText-filter recipes):
# hand-written rules produce WEAK labels, a simple lexical model is trained
# on them, and the model — not the rules — filters the corpus, because it
# generalizes to documents the rules score ambiguously. Multinomial NB is
# the closed-form member of that family: training is exact counting, so
# both training and inference are expressible as aggregates and the DuckDB
# oracle can verify the whole train-then-apply round trip (a gradient
# model couldn't be).

NB_VOCAB_SIZE = 2000  # top-df terms kept in the model


@shared_fit("nb_doc_scores")
def _nb_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared NB fit + per-document scoring: weak label and the posterior
    log-odds ``score`` (ll_sum + class prior) for every document — the one
    model definition behind ``text_nb_quality_classifier`` (thresholds it
    at 0) and ``text_nb_calibration`` (maps it through a sigmoid), a
    doc-sized shared fit of both."""
    # ONE tokenize+explode+shuffle pass feeds labels, vocabulary, training
    # counts, and scoring alike — EAGER (was lazy): those four consumers
    # run as concurrent AQE stage jobs of one action and raced on the
    # unmaterialized frame, re-running the tokenize pass per consumer;
    # GC-released either way
    counts = _doc_term_counts(spark, sf_dir).localCheckpoint(eager=True)
    labels = (
        _rule_flags_from_counts(counts)
        .select("doc_id", F.col("keep").cast("int").alias("label"))
        # tiny per-doc frame, consumed by three branches
        .localCheckpoint(eager=False)
    )
    tf = counts.withColumnRenamed("c", "tf")
    # vocabulary: top terms by document frequency, deterministic tie-break.
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition heaps)
    # — a row_number over an unpartitioned window would sort the whole
    # corpus vocabulary in one task.
    df_rank = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(NB_VOCAB_SIZE)
        .select("term")
    )
    ltf = tf.join(F.broadcast(df_rank), "term").join(labels, "doc_id")
    class_tok = ltf.groupBy("label").agg(F.sum("tf").alias("class_tokens"))
    class_doc = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("class_docs")
    )
    term_counts = (
        ltf.groupBy("term")
        .agg(
            F.sum(F.when(F.col("label") == 1, F.col("tf")).otherwise(0)).alias(
                "c_keep"
            ),
            F.sum(F.when(F.col("label") == 0, F.col("tf")).otherwise(0)).alias(
                "c_drop"
            ),
        )
    )
    # scalar training constants (4 numbers) via broadcast cross join
    consts = (
        class_tok.groupBy()
        .pivot("label", [0, 1])
        .agg(F.first("class_tokens"))
        .select(
            F.coalesce(F.col("`0`"), F.lit(0)).alias("t_drop"),
            F.coalesce(F.col("`1`"), F.lit(0)).alias("t_keep"),
        )
        .crossJoin(
            class_doc.groupBy()
            .pivot("label", [0, 1])
            .agg(F.first("class_docs"))
            .select(
                F.coalesce(F.col("`0`"), F.lit(0)).alias("n_drop"),
                F.coalesce(F.col("`1`"), F.lit(0)).alias("n_keep"),
            )
        )
    )
    v = float(NB_VOCAB_SIZE)
    llr_tbl = term_counts.crossJoin(F.broadcast(consts)).select(
        "term",
        (
            F.log((F.col("c_keep") + 1.0) / (F.col("t_keep") + v))
            - F.log((F.col("c_drop") + 1.0) / (F.col("t_drop") + v))
        ).alias("llr"),
    )
    prior = F.log((F.col("n_keep") + 1.0) / (F.col("n_drop") + 1.0))
    return (
        tf.join(F.broadcast(llr_tbl), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("llr")).alias("ll_sum"))
        .join(labels, "doc_id", "right")  # docs with zero vocab terms score prior-only
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            "label",
            (F.coalesce(F.col("ll_sum"), F.lit(0.0)) + prior).alias("score"),
        )
    )


@query
def text_nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-and-apply in one plan: weak labels from the Gopher rule bank
    (``text_quality_rule_flags``' keep — the SAME function, so labels
    cannot drift), a ``NB_VOCAB_SIZE``-term multinomial NB fit by exact
    counting, then per-source application stats (predicted-keep counts and
    agreement with the weak labels).

    Scale design: training is two vocab-bounded aggregates (df ranking +
    per-(term, label) counts) whose outputs are model-sized, never
    corpus-sized; the fitted log-likelihood-ratio table (<= ``NB_VOCAB_SIZE``
    rows) broadcasts to the scoring join, so inference is one pass over the
    per-(doc, term) counts frame with a broadcast hash join — no hot-term
    shuffle (stopwords are exactly the terms a per-term shuffle would skew
    on). The final rollup is |sources| rows. Fit + scoring live in
    ``_nb_doc_scores`` (shared with ``text_nb_calibration``).
    """
    from komodo_data_spark.sources.tables import load_spread

    scored = _nb_doc_scores(spark, sf_dir).select(
        "doc_id", "label", (F.col("score") > 0).cast("int").alias("pred")
    )
    src = load_spread(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        scored.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pred").alias("n_pred_keep"),
            F.sum("label").alias("n_label_keep"),
            F.sum(
                (F.col("pred") == F.col("label")).cast("int")
            ).alias("n_agree"),
        )
        .orderBy("source")
    )


def _nb_scores_cte() -> str:
    """WITH-chain up to ``scores`` (doc_id, label, score) — the DuckDB twin
    of ``_nb_doc_scores``, shared by the classifier and calibration
    oracles."""
    t = sql_tokens()
    return f"""
    WITH flags AS ({text_quality_rule_flags_oracle()}),
    labels AS (
      SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END AS label FROM flags
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest({t}) AS term FROM documents)
      GROUP BY doc_id, term
    ),
    vocab AS (
      SELECT term FROM (
        SELECT term,
               row_number() OVER (ORDER BY count(*) DESC, term) AS rk
        FROM tf GROUP BY term
      ) WHERE rk <= {NB_VOCAB_SIZE}
    ),
    ltf AS (
      SELECT tf.*, l.label FROM tf
      JOIN vocab USING (term) JOIN labels l USING (doc_id)
    ),
    consts AS (
      SELECT
        (SELECT coalesce(sum(tf), 0) FROM ltf WHERE label = 1) AS t_keep,
        (SELECT coalesce(sum(tf), 0) FROM ltf WHERE label = 0) AS t_drop,
        (SELECT count(*) FROM labels WHERE label = 1) AS n_keep,
        (SELECT count(*) FROM labels WHERE label = 0) AS n_drop
    ),
    llr AS (
      SELECT term,
        ln((coalesce(sum(CASE WHEN label = 1 THEN tf END), 0) + 1.0)
           / ((SELECT t_keep FROM consts) + {NB_VOCAB_SIZE}.0))
        - ln((coalesce(sum(CASE WHEN label = 0 THEN tf END), 0) + 1.0)
           / ((SELECT t_drop FROM consts) + {NB_VOCAB_SIZE}.0)) AS llr
      FROM ltf GROUP BY term
    ),
    scores AS (
      SELECT l.doc_id, l.label,
        coalesce(s.ll_sum, 0.0)
          + ln(((SELECT n_keep FROM consts) + 1.0)
             / ((SELECT n_drop FROM consts) + 1.0)) AS score
      FROM labels l
      LEFT JOIN (
        SELECT doc_id, sum(tf * llr) AS ll_sum
        FROM tf JOIN llr USING (term) GROUP BY doc_id
      ) s USING (doc_id)
    )"""


def text_nb_quality_classifier_oracle() -> str:
    return f"""
    {_nb_scores_cte()},
    scored AS (
      SELECT doc_id, label,
             CASE WHEN score > 0 THEN 1 ELSE 0 END AS pred
      FROM scores
    )
    SELECT d.source,
           count(*) AS n_docs,
           sum(sc.pred)::BIGINT AS n_pred_keep,
           sum(sc.label)::BIGINT AS n_label_keep,
           sum(CASE WHEN sc.pred = sc.label THEN 1 ELSE 0 END)::BIGINT
             AS n_agree
    FROM scored sc JOIN documents d USING (doc_id)
    GROUP BY d.source ORDER BY d.source
    """


#: Reliability-diagram bin count for text_nb_calibration.
NB_CALIB_BINS = 10


@query
def text_nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of the NB quality classifier: reliability bins over the
    predicted keep-probability (sigmoid of the posterior log-odds from
    ``_nb_doc_scores`` — the SAME fit the classifier thresholds), each bin
    reporting document count, mean predicted probability, empirical keep
    rate (vs the weak labels), and its weighted ECE contribution
    (``sum(ece_term)`` over the result IS the expected calibration
    error). An uncalibrated scorer can rank perfectly and still be
    useless for threshold selection — this is the artifact that says
    whether ``p > 0.9`` means anything.

    Scale: everything after the shared fit is a ``NB_CALIB_BINS``-row
    aggregate; the normalizing total rides on an unpartitioned window
    over those few rows, never the corpus.
    """
    from pyspark.sql import Window

    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("score")))
    binned = _nb_doc_scores(spark, sf_dir).select(
        F.least(
            F.floor(p * NB_CALIB_BINS).cast("int"), F.lit(NB_CALIB_BINS - 1)
        ).alias("bin"),
        p.alias("p"),
        "label",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("p").alias("mean_pred"),
        F.avg(F.col("label").cast("double")).alias("keep_rate"),
    )
    total = F.sum("n_docs").over(Window.partitionBy())
    return per_bin.select(
        "bin",
        "n_docs",
        "mean_pred",
        "keep_rate",
        (
            F.col("n_docs").cast("double")
            / total
            * F.abs(F.col("mean_pred") - F.col("keep_rate"))
        ).alias("ece_term"),
    ).orderBy("bin")


def text_nb_calibration_oracle() -> str:
    return f"""
    {_nb_scores_cte()},
    binned AS (
      SELECT least(floor((1.0 / (1.0 + exp(-score))) * {NB_CALIB_BINS})::INT,
                   {NB_CALIB_BINS - 1}) AS bin,
             1.0 / (1.0 + exp(-score)) AS p,
             label
      FROM scores
    ),
    per_bin AS (
      SELECT bin, count(*) AS n_docs, avg(p) AS mean_pred,
             avg(label::DOUBLE) AS keep_rate
      FROM binned GROUP BY bin
    )
    SELECT bin, n_docs, mean_pred, keep_rate,
           n_docs::DOUBLE / (SELECT sum(n_docs) FROM per_bin)
             * abs(mean_pred - keep_rate) AS ece_term
    FROM per_bin ORDER BY bin
    """


# --------------------------------------------------------------------------
# per-source quality-quantile filter (keep the head of each source)
# --------------------------------------------------------------------------

#: Per-source keep quantile as an exact rational. 7/10 — the CCNet-style
#: "keep the head ~30%" cut a real curation recipe uses — is NOT dyadic:
#: Spark ``percentile`` and DuckDB ``quantile_cont`` each compute the rank
#: position (n-1)·q in their own floating point and can disagree within an
#: ulp of an integer (measured: q=0.7 flipped 2 rows at sf0.001 in round
#: 6). ``quantiles.exact_group_quantiles`` removes floating point from
#: bracket selection (integer k = ((n-1)·num) div den), so ANY fraction is
#: engine-exact.
QUALITY_KEEP_Q = (7, 10)


@shared_fit("quality_scored")
def _quality_scored_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, source, n_tokens, quality_score) frame ALL THREE
    quality filters threshold — ONE tokenize pass per session instead of
    one per filter; doc-sized, never corpus-token-sized."""
    from komodo_data_spark.sources.tables import load_spread

    d = load_spread(spark, sf_dir, "documents").withColumn("toks", tokens())
    n_tokens = F.size("toks")
    ttr = F.size(F.array_distinct("toks")).cast("double") / n_tokens
    return d.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        (
            F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * (0.5 + 0.5 * ttr)
        ).alias("quality_score"),
    )


@query
def docs_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep each source's top-quality slice: a doc survives iff its
    composite quality score (the ``text_quality_scores`` formula —
    min(n_tokens/100, 1) · (0.5 + 0.5·TTR)) reaches its OWN source's 70th
    percentile. Per-source (not global) thresholds are the standard
    curation move: a global cut silently deletes whole low-register
    sources (forums, chat), while per-source cuts keep every source's
    head and let the mixing stage set proportions.

    Scale design: the per-source thresholds come from
    ``quantiles.exact_group_quantiles`` — exact kth-order statistics
    located by a bucket-prefix pass, so no per-source window or sort ever
    touches the corpus, and the rank bracket is chosen in INTEGER
    arithmetic (engine-exact at any fraction, not just dyadic ones). The
    |sources|-row threshold table broadcasts back, making the keep
    decision a map-side join + filter on the scoring pass. The scored
    frame is localCheckpointed: the fit reads it three times (extrema,
    histogram, target-bucket selection) and re-tokenizing the corpus per
    pass would triple the scan cost. At web scale swap the exact fit for
    ``approx_percentile`` (mergeable sketch, same broadcast-back shape);
    the exact form here is the oracle-anchored baseline of that swap.
    """
    from komodo_data_spark.operators.quantiles import exact_group_quantiles

    # shared scored frame (one tokenize per session, see
    # _quality_scored_shared); n_tokens is dropped at the output select
    scored = _quality_scored_shared(spark, sf_dir)
    thr = exact_group_quantiles(
        scored, ["source"], "quality_score", {"thr": QUALITY_KEEP_Q}
    )
    return (
        scored.join(F.broadcast(thr), "source")
        .filter(F.col("quality_score") >= F.col("thr"))
        .select("doc_id", "source", "quality_score")
    )


def _quality_scored_cte() -> str:
    t = sql_tokens()
    return f"""
    WITH d AS (SELECT doc_id, source, {t} AS toks FROM documents),
    scored AS (
      SELECT doc_id, source,
             least(len(toks) / 100.0, 1.0)
               * (0.5 + 0.5 * (len(list_distinct(toks))::DOUBLE / len(toks)))
               AS quality_score
      FROM d
    )"""


def docs_quality_quantile_filter_oracle() -> str:
    from komodo_data_spark.operators.quantiles import oracle_group_quantile_sql

    thr = oracle_group_quantile_sql(
        "scored", ["source"], "quality_score", {"thr": QUALITY_KEEP_Q}
    )
    return f"""
    {_quality_scored_cte()},{thr}
    SELECT s.doc_id, s.source, s.quality_score
    FROM scored s JOIN _eq_thr t USING (source)
    WHERE s.quality_score >= t.thr
    """


@query(oracle=None)  # sketch thresholds: rows-only; exact twin is the anchor
def docs_quality_quantile_filter_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """APPROX twin of ``docs_quality_quantile_filter`` (rows-only check —
    the sketch-twin pattern of ``supplier_part_distinct_approx``): the
    per-source threshold comes from ONE ``approx_percentile`` sketch
    aggregate (mergeable KLL-style summary, map-side combinable) instead
    of the exact bucket-prefix rank fit. This is the documented web-scale
    form — the exact filter stays registered as its oracle-anchored
    baseline, and at 100 TB the sketch costs one pass over the scored
    frame where the exact fit pays extrema + histogram + target-bucket
    selection. Sketch thresholds are engine-specific (DuckDB's
    approx_quantile uses a different sketch), so the twin is rows-only;
    tests pin that the kept set tracks the exact filter's within sketch
    tolerance."""
    scored = _quality_scored_shared(spark, sf_dir)
    q = QUALITY_KEEP_Q[0] / QUALITY_KEEP_Q[1]
    thr = scored.groupBy("source").agg(
        F.expr(f"approx_percentile(quality_score, {q!r})").alias("thr")
    )
    return (
        scored.join(F.broadcast(thr), "source")
        .filter(F.col("quality_score") >= F.col("thr"))
        .select("doc_id", "source", "quality_score")
    )


#: Mid-band keep: drop the bottom half (low-quality noise) AND the top
#: decile — Gopher-style upper-bound trimming, which catches templated /
#: keyword-stuffed spam that scores unnaturally high on lexical metrics.
#: 9/10 is the non-dyadic upper cut that was impossible before
#: ``exact_group_quantiles``.
QUALITY_BAND_LO = (1, 2)
QUALITY_BAND_HI = (9, 10)


@query
def docs_quality_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality BAND keep: survive iff the composite quality
    score lands in [median, 90th percentile) of the doc's own source.
    Lower cut drops noise; the upper cut is the Gopher-style trim for
    template spam that maxes out lexical heuristics. Same plan shape as
    :func:`docs_quality_quantile_filter` — one exact-order-statistic fit
    producing BOTH cut points in a single bucket-prefix pass (the
    histogram and target-bucket stages are shared across fractions), then
    a broadcast join-back; the corpus is never sorted or windowed.
    """
    from komodo_data_spark.operators.quantiles import exact_group_quantiles

    # shared scored frame (one tokenize per session, see
    # _quality_scored_shared)
    scored = _quality_scored_shared(spark, sf_dir)
    thr = exact_group_quantiles(
        scored,
        ["source"],
        "quality_score",
        {"lo": QUALITY_BAND_LO, "hi": QUALITY_BAND_HI},
    )
    return (
        scored.join(F.broadcast(thr), "source")
        .filter(
            (F.col("quality_score") >= F.col("lo"))
            & (F.col("quality_score") < F.col("hi"))
        )
        .select("doc_id", "source", "quality_score")
    )


def docs_quality_band_filter_oracle() -> str:
    from komodo_data_spark.operators.quantiles import oracle_group_quantile_sql

    thr = oracle_group_quantile_sql(
        "scored",
        ["source"],
        "quality_score",
        {"lo": QUALITY_BAND_LO, "hi": QUALITY_BAND_HI},
    )
    return f"""
    {_quality_scored_cte()},{thr}
    SELECT s.doc_id, s.source, s.quality_score
    FROM scored s JOIN _eq_thr t USING (source)
    WHERE s.quality_score >= t.lo AND s.quality_score < t.hi
    """


#: Token-mass drop fraction: remove the lowest-quality 30% of TOKENS per
#: source (so the kept head carries ~70% of each source's token mass). The
#: weight-blind sibling (QUALITY_KEEP_Q) keeps the top 30% of DOCUMENTS —
#: a source full of short junk docs loses far less than 30% of its tokens
#: under that cut, which is why real recipes budget by token mass.
TOKEN_MASS_DROP_Q = (3, 10)


@query
def docs_quality_token_weighted_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Keep the top ~70% of each source's TOKEN MASS by quality: a doc
    survives iff its composite quality score reaches the source's
    token-weighted 30th percentile — the smallest score at which the
    cumulative token count of worse-scored docs reaches
    ceil(0.3 · source_tokens). Docs AT the threshold keep in full (the
    threshold is an actual score value, not an interpolation), so the kept
    mass is >= 70% with the boundary class never split.

    Scale design: same shape as :func:`docs_quality_quantile_filter` with
    the fit swapped for ``quantiles.exact_group_weighted_quantiles`` —
    the bucket-prefix pass sums token WEIGHTS instead of row counts, the
    target rank is pure bigint arithmetic (ceil(W·3/10)), and the
    threshold is selected by a running cumsum inside one located bucket
    per source. No per-source sort or window ever touches the corpus; the
    |sources|-row threshold frame broadcasts back onto the scoring pass.
    """
    from komodo_data_spark.operators.quantiles import (
        exact_group_weighted_quantiles,
    )

    # shared scored frame (one tokenize per session, see
    # _quality_scored_shared)
    scored = _quality_scored_shared(spark, sf_dir)
    thr = exact_group_weighted_quantiles(
        scored,
        ["source"],
        "quality_score",
        "n_tokens",
        {"thr": TOKEN_MASS_DROP_Q},
    )
    return (
        scored.join(F.broadcast(thr), "source")
        .filter(F.col("quality_score") >= F.col("thr"))
        .select("doc_id", "source", "n_tokens", "quality_score")
    )


def docs_quality_token_weighted_filter_oracle() -> str:
    from komodo_data_spark.operators.quantiles import (
        oracle_group_weighted_quantile_sql,
    )

    t = sql_tokens()
    thr = oracle_group_weighted_quantile_sql(
        "scored",
        ["source"],
        "quality_score",
        "n_tokens",
        {"thr": TOKEN_MASS_DROP_Q},
    )
    return f"""
    WITH d AS (SELECT doc_id, source, {t} AS toks FROM documents),
    scored AS (
      SELECT doc_id, source, len(toks) AS n_tokens,
             least(len(toks) / 100.0, 1.0)
               * (0.5 + 0.5 * (len(list_distinct(toks))::DOUBLE / len(toks)))
               AS quality_score
      FROM d
    ),{thr}
    SELECT s.doc_id, s.source, s.n_tokens, s.quality_score
    FROM scored s JOIN _wq_thr t USING (source)
    WHERE s.quality_score >= t.thr
    """


# --------------------------------------------------------------------------
# CCNet-style perplexity buckets (head / middle / tail per language)
# --------------------------------------------------------------------------

#: CCNet's ACTUAL cut points — terciles. 1/3 is not even representable in
#: binary, the worst case for engine-specific (n-1)·q rank arithmetic;
#: ``exact_group_quantiles`` selects the bracket in integer math, so the
#: original design is now engine-exact (pre-round-7 this op was restricted
#: to dyadic quartiles).
PPL_HEAD_Q = (2, 3)
PPL_TAIL_Q = (1, 3)


@query
def docs_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail bucketing: score every doc under the corpus
    bigram LM (``text_bigram_logprob`` — reused, not re-derived, so the
    bucketer and the keep-gate can never score differently), then cut each
    LANGUAGE at its own logprob TERCILES (CCNet's original design) — head
    = top third (lowest perplexity), tail = bottom third. Per-language
    thresholds are the point: perplexity is not comparable across
    languages, so a global cut would classify entire low-resource
    languages as tail.

    Scale design: the LM fit and scoring inherit ``text_bigram_logprob``'s
    distributed two-stage shape (the model is a DataFrame, never
    collected); the scored frame is localCheckpointed because the tercile
    fit reads it three times and the LM pipeline is the expensive part.
    The fit itself is ``quantiles.exact_group_quantiles`` — bucket-prefix
    kth-order statistics, no per-language window or sort over the corpus,
    engine-exact at the non-dyadic 1/3 and 2/3 fractions — and the
    |langs|-row threshold table broadcasts back, so bucket assignment is
    map-side.
    """
    from komodo_data_spark.operators.quantiles import exact_group_quantiles

    scored = text_bigram_logprob(spark, sf_dir).select(
        "doc_id", "avg_logprob"
    )
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    s = scored.join(langs, "doc_id").localCheckpoint(eager=True)
    thr = exact_group_quantiles(
        s, ["lang"], "avg_logprob",
        {"q_tail": PPL_TAIL_Q, "q_head": PPL_HEAD_Q},
    )
    return (
        s.join(F.broadcast(thr), "lang")
        .select(
            "doc_id",
            "lang",
            "avg_logprob",
            F.when(F.col("avg_logprob") >= F.col("q_head"), "head")
            .when(F.col("avg_logprob") < F.col("q_tail"), "tail")
            .otherwise("middle")
            .alias("bucket"),
        )
    )


def docs_perplexity_buckets_oracle() -> str:
    from komodo_data_spark.operators.quantiles import oracle_group_quantile_sql

    t = sql_tokens()
    thr = oracle_group_quantile_sql(
        "s", ["lang"], "avg_logprob",
        {"q_tail": PPL_TAIL_Q, "q_head": PPL_HEAD_Q},
    )
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    grams AS (
      SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
      FROM d, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS u(i)
    ),
    model AS (SELECT g, count(*) AS c FROM grams GROUP BY g),
    tot AS (SELECT sum(c) AS n_total FROM model),
    scored AS (
      SELECT grams.doc_id, avg(ln(model.c / tot.n_total)) AS avg_logprob
      FROM grams JOIN model USING (g) CROSS JOIN tot
      GROUP BY grams.doc_id
    ),
    s AS (
      SELECT scored.doc_id, documents.lang, scored.avg_logprob
      FROM scored JOIN documents USING (doc_id)
    ),{thr}
    SELECT s.doc_id, s.lang, s.avg_logprob,
           CASE WHEN s.avg_logprob >= t.q_head THEN 'head'
                WHEN s.avg_logprob < t.q_tail THEN 'tail'
                ELSE 'middle' END AS bucket
    FROM s JOIN _eq_thr t USING (lang)
    """


@query(oracle=None)  # sketch cut points: rows-only; exact twin is the anchor
def docs_perplexity_buckets_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """APPROX twin of ``docs_perplexity_buckets`` (rows-only): the
    per-language tercile cuts come from ONE ``approx_percentile`` sketch
    aggregate over the same memoized LM-scored frame, instead of the
    exact bucket-prefix fit — the web-scale CCNet form, with the exact
    bucketer as its oracle-anchored baseline. Sketch cut points are
    engine-specific, hence rows-only; tests pin bucket-population drift
    against the exact twin."""
    scored = text_bigram_logprob(spark, sf_dir).select(
        "doc_id", "avg_logprob"
    )
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    s = scored.join(langs, "doc_id")
    lo, hi = PPL_TAIL_Q[0] / PPL_TAIL_Q[1], PPL_HEAD_Q[0] / PPL_HEAD_Q[1]
    thr = s.groupBy("lang").agg(
        F.expr(
            f"approx_percentile(avg_logprob, array({lo!r}, {hi!r}))"
        ).alias("qq")
    ).select(
        "lang", F.col("qq")[0].alias("q_tail"), F.col("qq")[1].alias("q_head")
    )
    return s.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        "avg_logprob",
        F.when(F.col("avg_logprob") >= F.col("q_head"), "head")
        .when(F.col("avg_logprob") < F.col("q_tail"), "tail")
        .otherwise("middle")
        .alias("bucket"),
    )


@query
def docs_ppl_token_weighted_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet buckets cut by TOKEN MASS: head/middle/tail boundaries are
    the perplexity values where each language's CUMULATIVE TOKEN count
    crosses 1/3 and 2/3 — so each bucket carries (up to the boundary doc)
    a third of the language's tokens, which is what a training-mix recipe
    actually budgets. The doc-count sibling (``docs_perplexity_buckets``)
    puts a third of the DOCUMENTS in each bucket; when short docs score
    differently from long ones (they do — avg_logprob is length-biased),
    its "head third" can carry well under a third of the trainable
    tokens.

    Scale design: identical shape to the sibling with the fit swapped for
    ``quantiles.exact_group_weighted_quantiles`` — integer token-mass
    targets, weight-sum histogram, running cumsum inside the located
    buckets only; thresholds are actual score values (no interpolation),
    broadcast back for a map-side bucket assignment. The scored frame is
    localCheckpointed: the LM pipeline is the expensive part and the fit
    reads the frame three times.

    The fit ranks INT MICRO-NAT scores (floor(avg_logprob·1e6)), the
    text_unigram_lm precedent: a weighted threshold IS a data value and
    the boundary doc sits exactly on it, so ulp-level differences in the
    engines' order-dependent ln-sum aggregates would flip boundary
    membership (measured: one es doc flipped head/middle on the raw
    doubles). The doc-count sibling tolerates raw doubles only because
    no doc sits AT its interpolated threshold by construction.
    """
    from komodo_data_spark.operators.quantiles import (
        exact_group_weighted_quantiles,
    )

    scored = text_bigram_logprob(spark, sf_dir).select(
        "doc_id", "avg_logprob"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(tokens()).alias("n_tokens")
    )
    s = (
        scored.join(docs, "doc_id")
        .withColumn(
            "uq", F.floor(F.col("avg_logprob") * F.lit(1_000_000.0)).cast("long")
        )
        .localCheckpoint(eager=True)
    )
    thr = exact_group_weighted_quantiles(
        s,
        ["lang"],
        "uq",
        "n_tokens",
        {"q_tail": PPL_TAIL_Q, "q_head": PPL_HEAD_Q},
    )
    return s.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        "n_tokens",
        "avg_logprob",
        F.when(F.col("uq") >= F.col("q_head"), "head")
        .when(F.col("uq") < F.col("q_tail"), "tail")
        .otherwise("middle")
        .alias("bucket"),
    )


def docs_ppl_token_weighted_buckets_oracle() -> str:
    from komodo_data_spark.operators.quantiles import (
        oracle_group_weighted_quantile_sql,
    )

    t = sql_tokens()
    thr = oracle_group_weighted_quantile_sql(
        "s",
        ["lang"],
        "uq",
        "n_tokens",
        {"q_tail": PPL_TAIL_Q, "q_head": PPL_HEAD_Q},
    )
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    grams AS (
      SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
      FROM d, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS u(i)
    ),
    model AS (SELECT g, count(*) AS c FROM grams GROUP BY g),
    tot AS (SELECT sum(c) AS n_total FROM model),
    scored AS (
      SELECT grams.doc_id, avg(ln(model.c / tot.n_total)) AS avg_logprob
      FROM grams JOIN model USING (g) CROSS JOIN tot
      GROUP BY grams.doc_id
    ),
    s AS (
      SELECT scored.doc_id, dd.lang, dd.n_tokens, scored.avg_logprob,
             CAST(floor(scored.avg_logprob * 1000000.0) AS BIGINT) AS uq
      FROM scored JOIN (
        SELECT doc_id, lang, len({t}) AS n_tokens FROM documents
      ) dd USING (doc_id)
    ),{thr}
    SELECT s.doc_id, s.lang, s.n_tokens, s.avg_logprob,
           CASE WHEN s.uq >= t.q_head THEN 'head'
                WHEN s.uq < t.q_tail THEN 'tail'
                ELSE 'middle' END AS bucket
    FROM s JOIN _wq_thr t USING (lang)
    """


# --------------------------------------------------------------------------
# unigram-LM tokenizer (SentencePiece-style Viterbi-EM, fixed rounds)
# --------------------------------------------------------------------------

#: The OTHER public tokenizer family next to BPE (Kudo 2018 /
#: SentencePiece): piece probabilities fit by EM, words segmented by the
#: max-likelihood (Viterbi) path. Fixed shapes keep the plan finite and
#: the oracle expressible: pieces are word substrings up to UNI_MAXP
#: chars, words longer than UNI_MAXW are excluded from the fit (none
#: exist in this corpus; at web scale they're URL/hash outliers a real
#: recipe also drops), UNI_EM full Viterbi-EM rounds follow the seed.
UNI_MAXP = 3
UNI_MAXW = 16
UNI_EM = 2
UNI_TOP = 50
#: Piece log-probabilities are QUANTIZED to integers (round(ln(p)·1e6))
#: before the DP ever compares path scores. This is what makes the fit
#: engine-exact: two segmentations whose true log-likelihoods coincide
#: (symmetric counts do this on real corpora) compare as EQUAL integers
#: on both engines and fall to the same deterministic tie-break (longer
#: final piece), instead of hinging on which engine's libm ln() is an
#: ulp higher. The 1e-6 nat resolution is far below any meaningful
#: probability difference.
UNI_SCALE = 1_000_000
#: Integer -infinity for unreachable DP states / unknown pieces: deep
#: enough that one poisoned step (> |NEG/2|) can never be repaired by
#: real scores (|path| <= 16 pieces x ~3e7 quantized nats), shallow
#: enough that 17 poisoned steps stay inside int64 (ANSI overflow-safe).
UNI_NEG = -(10**15)


@shared_fit("uni_words")
def _uni_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-weighted word vocabulary for the unigram fit — the same
    'train on (word, count), never on raw docs' move as ``_bpe_vocab``; a
    vocab-bounded shared fit that every EM round reads, so the fit and
    the apply op share one corpus fold."""
    d = _docs(spark, sf_dir).select("doc_id", tokens().alias("toks"))
    return (
        exploded(d, F.col("toks"), "word", "doc_id")
        .filter((F.length("word") >= 1) & (F.length("word") <= UNI_MAXW))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _uni_substrings(words: DataFrame) -> DataFrame:
    """(word, piece) pairs for every substring of length 1..UNI_MAXP at
    every position (with multiplicity) — map-side explode."""
    subs = F.flatten(
        F.transform(
            F.filter(
                F.sequence(F.lit(1), F.lit(UNI_MAXP)),
                lambda l: l <= F.length("word"),
            ),
            lambda l: F.transform(
                F.sequence(F.lit(1), F.length("word") - l + 1),
                lambda s: F.substring(F.col("word"), s, l),
            ),
        )
    )
    return words.select("word", "cnt", F.explode(subs).alias("piece"))


def _uni_viterbi(words_with_map: DataFrame) -> DataFrame:
    """Row-local Viterbi over each word given its (piece -> quantized
    score) map column ``m``: one ``aggregate`` fold over positions, dp
    state = array of (score, tie-break, pieces-so-far). Unknown pieces
    poison a path via the UNI_NEG sentinel (integer math only — no NULL
    states, no float compares). Tie-break on equal scores: longer final
    piece (max -j == max piece length at a fixed position)."""
    word = F.col("word")

    def step(acc, i):
        def cand(j):
            piece = F.substring(word, j + 1, i - j)
            prev = F.element_at(acc, j + 1)
            return F.struct(
                (
                    prev["sc"]
                    + F.coalesce(
                        F.element_at(F.col("m"), piece), F.lit(UNI_NEG)
                    )
                ).alias("sc"),
                (-j).alias("nj"),
                F.concat(prev["ps"], F.array(piece)).alias("ps"),
            )

        cands = F.transform(
            F.sequence(F.greatest(i - F.lit(UNI_MAXP), F.lit(0)), i - 1),
            cand,
        )
        return F.concat(acc, F.array(F.array_max(cands)))

    init = F.array(
        F.struct(
            F.lit(0).cast("long").alias("sc"),
            F.lit(0).alias("nj"),
            F.array().cast("array<string>").alias("ps"),
        )
    )
    dp = F.aggregate(F.sequence(F.lit(1), F.length(word)), init, step)
    return (
        words_with_map.select(
            "word", "cnt", F.element_at(dp, F.length(word) + 1).alias("fin")
        )
        .filter(F.col("fin.sc") > F.lit(UNI_NEG // 2))
        .select("word", "cnt", F.col("fin.ps").alias("ps"))
    )


@shared_fit("uni_lm")
def _uni_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round Viterbi-EM unigram-LM fit. Returns the final piece
    table (piece, n_uses, score_q): usage counts from the last E-step,
    quantized log-probs from the last M-step.

    Scale design (the ``_bpe_fit_batched`` discipline): ONE corpus-sized
    explode+groupBy builds the weighted vocabulary; everything after is
    vocab-bounded. Per EM round: broadcast the piece table into a
    per-word score MAP (one vocab-sized join + collect_list — pieces a
    word could use are its own <= 42 substrings), segment every word with
    the single codegen'd DP expression (no per-position joins, no
    iterative shuffles), explode the winning paths into corpus-weighted
    usage counts, and re-score with Laplace smoothing over the FULL seed
    piece set (+1/(tot+|P|)) so coverage never collapses — every word
    stays segmentable in every round (single chars keep nonzero
    probability). Loop-carried piece tables are localCheckpointed.

    A shared fit (the final piece table is model-sized) of
    ``text_unigram_lm`` and ``text_unigram_apply``.
    """
    words = _uni_words(spark, sf_dir)
    subs = _uni_substrings(words).localCheckpoint(eager=True)
    seed = (
        subs.groupBy("piece")
        .agg(F.sum("cnt").alias("c"))
        .localCheckpoint(eager=True)
    )
    tot0 = seed.agg(F.sum("c").alias("tot"))
    pieces = seed.crossJoin(F.broadcast(tot0)).select(
        "piece",
        F.round(
            F.log(F.col("c").cast("double") / F.col("tot").cast("double"))
            * UNI_SCALE
        )
        .cast("long")
        .alias("sq"),
    )
    pair_universe = subs.select("word", "piece").distinct().localCheckpoint(
        eager=True
    )
    out = None
    for _ in range(UNI_EM):
        m = (
            pair_universe.join(F.broadcast(pieces), "piece")
            .groupBy("word")
            .agg(
                F.map_from_entries(
                    F.array_distinct(F.collect_list(F.struct("piece", "sq")))
                ).alias("m")
            )
        )
        seg = _uni_viterbi(words.join(m, "word"))
        uses = (
            exploded(seg, F.col("ps"), "piece", "cnt")
            .groupBy("piece")
            .agg(F.sum("cnt").alias("n_uses"))
        )
        tot = uses.agg(F.sum("n_uses").alias("tot"))
        np_ = seed.agg(F.count(F.lit(1)).alias("np"))
        pieces = (
            seed.select("piece")
            .join(uses, "piece", "left")
            .crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(np_))
            .select(
                "piece",
                F.coalesce("n_uses", F.lit(0)).alias("n_uses"),
                F.round(
                    F.log(
                        (F.coalesce("n_uses", F.lit(0)) + 1).cast("double")
                        / (F.col("tot") + F.col("np")).cast("double")
                    )
                    * UNI_SCALE
                )
                .cast("long")
                .alias("sq"),
            )
            .localCheckpoint(eager=True)
        )
        out = pieces
    return out


@query
def text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a SentencePiece-style unigram-LM tokenizer (fixed-round
    Viterbi-EM over a substring seed vocabulary, corpus-weighted) and
    report the UNI_TOP most-used pieces: (rank, piece, n_uses, score_q).
    The BPE trainer's sibling — the two public tokenizer families ship
    side by side, trained from the same weighted vocabulary discipline.
    Output is integers + strings only (scores stay in their quantized
    integer form), so oracle comparison is exact by construction."""
    pieces = _uni_fit(spark, sf_dir)
    top = (
        pieces.filter(F.col("n_uses") > 0)
        .orderBy(F.desc("n_uses"), F.asc("piece"))
        .limit(UNI_TOP)
    )
    w = Window.orderBy(F.desc("n_uses"), F.asc("piece"))
    return top.select(
        F.row_number().over(w).alias("rank"),
        "piece",
        "n_uses",
        F.col("sq").alias("score_q"),
    )


def _uni_sql_dp(tag: str, pieces_cte: str) -> str:
    """Recursive-CTE Viterbi over ``words`` given a piece table CTE —
    deliberately a DIFFERENT algorithm shape than the Spark fold (a
    sliding window of the last UNI_MAXP dp states carried across
    recursion steps) so the oracle checks semantics, not the plan.
    Emits ``dp{tag}`` and ``seg{tag}`` (word, cnt, ps)."""
    neg = UNI_NEG
    return f"""
    dp{tag} AS (
      SELECT word, cnt, length(word) AS wl, 0 AS i,
             0::BIGINT AS sc0, []::VARCHAR[] AS ps0,
             {neg}::BIGINT AS sc1, []::VARCHAR[] AS ps1,
             {neg}::BIGINT AS sc2, []::VARCHAR[] AS ps2
      FROM words
      UNION ALL
      SELECT word, cnt, wl, i + 1,
             best['sc'], best['ps'],
             sc0, ps0,
             sc1, ps1
      FROM (
        SELECT d.word, d.cnt, d.wl, d.i,
               list_max([
                 {{'sc': d.sc0 + coalesce(p1.sq, {neg}), 'l': 1,
                   'ps': list_append(d.ps0, substr(d.word, d.i + 1, 1))}},
                 {{'sc': d.sc1 + coalesce(p2.sq, {neg}), 'l': 2,
                   'ps': list_append(d.ps1, substr(d.word, d.i, 2))}},
                 {{'sc': d.sc2 + coalesce(p3.sq, {neg}), 'l': 3,
                   'ps': list_append(d.ps2, substr(d.word, d.i - 1, 3))}}
               ]) AS best,
               d.sc0, d.ps0, d.sc1, d.ps1
        FROM dp{tag} d
        LEFT JOIN {pieces_cte} p1 ON p1.piece = substr(d.word, d.i + 1, 1)
        LEFT JOIN {pieces_cte} p2
          ON d.i >= 1 AND p2.piece = substr(d.word, d.i, 2)
        LEFT JOIN {pieces_cte} p3
          ON d.i >= 2 AND p3.piece = substr(d.word, d.i - 1, 3)
        WHERE d.i < d.wl
      )
    ),
    seg{tag} AS (
      SELECT word, cnt, ps0 AS ps FROM dp{tag}
      WHERE i = wl AND sc0 > {neg // 2}
    )"""


def text_unigram_lm_oracle() -> str:
    t = sql_tokens()
    rounds = []
    prev_pieces = "p0"
    for r in range(UNI_EM):
        rounds.append(_uni_sql_dp(str(r), prev_pieces))
        rounds.append(f"""
    use{r} AS MATERIALIZED (
      SELECT u.p AS piece, sum(cnt) AS n_uses
      FROM seg{r}, unnest(ps) AS u(p) GROUP BY 1
    ),
    p{r + 1} AS MATERIALIZED (
      SELECT s.piece, coalesce(u.n_uses, 0) AS n_uses,
             round(ln((coalesce(u.n_uses, 0) + 1)::DOUBLE /
                      ((SELECT sum(n_uses) FROM use{r})
                       + (SELECT count(*) FROM seedc))::DOUBLE)
                   * {UNI_SCALE})::BIGINT AS sq
      FROM (SELECT DISTINCT piece FROM seedc) s
      LEFT JOIN use{r} u USING (piece)
    )""")
        prev_pieces = f"p{r + 1}"
    return f"""
    WITH RECURSIVE
    d AS (SELECT doc_id, {t} AS toks FROM documents),
    words AS MATERIALIZED (
      SELECT w AS word, count(*) AS cnt
      FROM d, unnest(toks) AS u(w)
      WHERE length(w) >= 1 AND length(w) <= {UNI_MAXW}
      GROUP BY 1
    ),
    seedc AS MATERIALIZED (
      SELECT substr(w.word, s.s, l.l) AS piece, sum(w.cnt) AS c
      FROM words w,
           unnest(range(1, {UNI_MAXP} + 1)) AS l(l),
           unnest(range(1, length(w.word) - l.l + 2)) AS s(s)
      GROUP BY 1
    ),
    p0 AS MATERIALIZED (
      SELECT piece,
             round(ln(c::DOUBLE / (SELECT sum(c)::DOUBLE FROM seedc))
                   * {UNI_SCALE})::BIGINT AS sq
      FROM seedc
    ),{",".join(rounds)}
    SELECT row_number() OVER (ORDER BY n_uses DESC, piece ASC) AS rank,
           piece, n_uses::BIGINT AS n_uses, sq AS score_q
    FROM p{UNI_EM}
    WHERE n_uses > 0
    ORDER BY n_uses DESC, piece ASC
    LIMIT {UNI_TOP}
    """


@query
def text_unigram_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained unigram LM to the corpus: per document, the word
    count and the EXACT token count under the final fitted piece
    probabilities — the ``text_bpe_train_apply`` twin for the other
    tokenizer family, so packing/budget planning can price both
    tokenizers on the same corpus. One more Viterbi pass under the FINAL
    piece table (what ships to inference) segments the distinct-word
    vocabulary; application is a broadcast join of (word -> n_pieces)
    onto the exploded corpus tokens + a per-doc sum — the corpus is never
    segmented row by row. Words outside the fit's [1, UNI_MAXW] length
    band carry no segmentation and are skipped identically on both
    engines (none exist in this corpus).
    """
    pieces = _uni_fit(spark, sf_dir)
    words = _uni_words(spark, sf_dir)
    m = (
        _uni_substrings(words)
        .select("word", "piece")
        .distinct()
        .join(F.broadcast(pieces.select("piece", "sq")), "piece")
        .groupBy("word")
        .agg(
            F.map_from_entries(
                F.array_distinct(F.collect_list(F.struct("piece", "sq")))
            ).alias("m")
        )
    )
    fitted = _uni_viterbi(words.join(m, "word")).select(
        "word", F.size("ps").alias("n_pieces")
    )
    d = _docs(spark, sf_dir).select("doc_id", tokens().alias("toks"))
    toks = exploded(d, F.col("toks"), "word", "doc_id")
    return (
        toks.join(F.broadcast(fitted), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_uni_tokens"),
        )
    )


def text_unigram_apply_oracle() -> str:
    t = sql_tokens()
    # the full fit chain from the trainer's oracle, then one more Viterbi
    # under the FINAL piece table and a per-doc rollup
    fit = text_unigram_lm_oracle().split("SELECT row_number()")[0].rstrip()
    fit = fit.rstrip(",")
    return f"""
    {fit},{_uni_sql_dp("F", f"p{UNI_EM}")},
    fitted AS (SELECT word, len(ps) AS n_pieces FROM segF),
    dtoks AS (
      SELECT doc_id, u.w AS word
      FROM (SELECT doc_id, {t} AS toks FROM documents), unnest(toks) AS u(w)
    )
    SELECT d.doc_id, count(*) AS n_words,
           CAST(sum(f.n_pieces) AS BIGINT) AS n_uni_tokens
    FROM dtoks d JOIN fitted f USING (word)
    GROUP BY d.doc_id
    """


# --------------------------------------------------------------------------
# skip-gram cooccurrence PMI (word-association statistics)
# --------------------------------------------------------------------------

PMI_WINDOW = 2  # pair tokens up to this many positions apart
PMI_MIN_PAIR = 5  # minimum pair support to report
PMI_TOP = 50


@query
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over skip-gram token pairs — the
    word2vec-era association statistic (collocations, phrase mining,
    embedding-free similarity): every unordered token pair within
    PMI_WINDOW positions is a cooccurrence event, and
    PMI(a,b) = ln( c_ab · T / (m_a · m_b) ) with marginals m taken over
    the SAME pair-event space (self-consistent, no mixed denominators).
    Reports the PMI_TOP most frequent pairs (support >= PMI_MIN_PAIR);
    ranking is by integer support with lexicographic tie-break, so the
    cut is engine-exact and PMI rides along as a value column.

    Scale design: pair extraction is a map-side explode (positions ×
    window offsets); pair counting is one map-side-combinable hash
    aggregate; marginals come from ONE more aggregate over the already-
    counted pair table (2·|pairs| rows, not the corpus), broadcast back.
    TakeOrderedAndProject handles the top-k — no global sort.
    """
    d = _docs(spark, sf_dir).select("doc_id", tokens().alias("toks"))
    n = F.size("toks")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1), F.least(F.lit(PMI_WINDOW), n - i)
                ),
                lambda k: F.struct(
                    F.least(
                        F.element_at("toks", i), F.element_at("toks", i + k)
                    ).alias("w1"),
                    F.greatest(
                        F.element_at("toks", i), F.element_at("toks", i + k)
                    ).alias("w2"),
                ),
            ),
        )
    )
    pairs = (
        exploded(d.filter(n >= 2), pair_structs, "p", "doc_id")
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .localCheckpoint(eager=True)
    )
    marg = (
        pairs.select(F.col("w1").alias("w"), "n_pair")
        .unionByName(pairs.select(F.col("w2").alias("w"), "n_pair"))
        .groupBy("w")
        .agg(F.sum("n_pair").alias("m"))
    )
    tot = pairs.agg(F.sum("n_pair").alias("t"))
    top = (
        pairs.filter(F.col("n_pair") >= PMI_MIN_PAIR)
        .orderBy(F.desc("n_pair"), F.asc("w1"), F.asc("w2"))
        .limit(PMI_TOP)
    )
    return (
        top.join(F.broadcast(marg.withColumnRenamed("w", "w1")
                 .withColumnRenamed("m", "m1")), "w1")
        .join(F.broadcast(marg.withColumnRenamed("w", "w2")
              .withColumnRenamed("m", "m2")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.log(
                F.col("n_pair").cast("double")
                * F.col("t").cast("double")
                / (F.col("m1").cast("double") * F.col("m2").cast("double"))
            ).alias("pmi"),
        )
        .orderBy(F.desc("n_pair"), F.asc("w1"), F.asc("w2"))
    )


def text_cooccurrence_pmi_oracle() -> str:
    t = sql_tokens()
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    pr AS (
      SELECT least(toks[i.i], toks[i.i + k.k]) AS w1,
             greatest(toks[i.i], toks[i.i + k.k]) AS w2
      FROM d,
           unnest(range(1, greatest(len(toks) - 1, 1) + 1)) AS i(i),
           unnest(range(1, least({PMI_WINDOW}, len(toks) - i.i) + 1)) AS k(k)
      WHERE len(toks) >= 2
    ),
    pairs AS MATERIALIZED (
      SELECT w1, w2, count(*) AS n_pair FROM pr GROUP BY 1, 2
    ),
    marg AS (
      SELECT w, CAST(sum(n_pair) AS BIGINT) AS m FROM (
        SELECT w1 AS w, n_pair FROM pairs
        UNION ALL SELECT w2, n_pair FROM pairs
      ) GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS t FROM pairs),
    top AS (
      SELECT w1, w2, n_pair FROM pairs WHERE n_pair >= {PMI_MIN_PAIR}
      ORDER BY n_pair DESC, w1 ASC, w2 ASC LIMIT {PMI_TOP}
    )
    SELECT top.w1, top.w2, top.n_pair,
           ln(top.n_pair::DOUBLE * tot.t::DOUBLE
              / (m1.m::DOUBLE * m2.m::DOUBLE)) AS pmi
    FROM top
    JOIN marg m1 ON m1.w = top.w1
    JOIN marg m2 ON m2.w = top.w2
    CROSS JOIN tot
    ORDER BY top.n_pair DESC, top.w1 ASC, top.w2 ASC
    """

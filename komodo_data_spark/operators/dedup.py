"""Deduplication pack over ``documents`` / ``embeddings`` (north-star
extension; SURVEY.md §2.12). Five dedup families, each with a DuckDB oracle:

1. exact        — md5-of-normalized-text groupBy (one shuffle on a 32-char key)
2. n-gram       — 3-token-shingle Jaccard pairs (explode + self-join)
3. MinHash+LSH  — k=12 signatures, b=4 bands × r=3: band-bucket join prunes
                  the candidate space, then exact-Jaccard verification
4. SimHash      — 64-bit shingle-feature signature + Hamming-distance pairs
                  via a multi-index segment equi-join (never all-pairs)
5. embedding    — cosine near-dup pairs over ``array<float>`` vectors

Scale strategy (100 TB): the *n-gram self-join* is the quadratic trap — its
cost is Σ(bucket²) over shingle buckets, so a single hot shingle ("the the
the") explodes; production path is (3) where the join key is a *band bucket*
whose expected occupancy is O(1) for non-duplicate docs, turning candidate
generation into a linear scan + one shuffle on the band hash. Frequency-cap
hot shingles before joining (drop shingles appearing in > f·N docs — they
carry no dedup signal) and salt residual skew; AQE skew-join handles the
tail. SimHash (4) is cheaper still: signature is map-side, and near-dup
lookup is b-bit multi-probe on a clustered signature column. All signature
computations are pure Catalyst expressions — no UDFs, fully codegen'd.

Every shingle-set pair detector (n-gram prefix and df-capped, MinHash,
OPH, containment, their recall twins, the incremental band store) is
*candidates → one verify*. Candidate generation is the detector: a band
or rare-gram equi-join (``_key_pairs`` / ``_band_candidates``) or the
prefix join. The verify is shared: ``_verify_jaccard`` counts each
candidate's common shingles with one ``array_intersect`` and returns
(doc_i, doc_j, c, n_i, n_j). Jaccard callers accept in integers
(``_jaccard_accept``); containment reads c/n_i and c/n_j. The exact
all-pairs truth is one postings self-join (``_truth_pairs_from``), and
every recall twin scores its pair sets with one tail
(``_detector_recall_counts``).
"""

from __future__ import annotations

import functools
import itertools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from komodo_data_spark.plans import exploded

from komodo_data_spark.functions.text_features import (
    shingles,
    sql_minhash,
    sql_shingles,
    sql_tokens,
    tokens,
)
from komodo_data_spark.operators.model_memo import shared_fit
from komodo_data_spark.registry import query
from komodo_data_spark.sources.tables import load_spread, load_table

#: MinHash/LSH geometry: 12 hashes in 4 bands of 3. With Jaccard j the
#: band-collision probability is 1-(1-j³)⁴ — ~0.95 at j=0.8, ~0.02 at j=0.2.
MINHASH_K = 12
LSH_BANDS = 4
LSH_ROWS = 3

#: Shingle-Jaccard near-dup threshold as an exact rational (num, den): the
#: verify accepts c·den >= num·|A ∪ B| in integers.
JACCARD_Q = (7, 10)
JACCARD_THRESHOLD = JACCARD_Q[0] / JACCARD_Q[1]
COSINE_THRESHOLD = 0.45

#: Text SimHash geometry: 64-bit signatures over the doc's DISTINCT 3-gram
#: shingles (the exact truth's own feature modality), pairs at Hamming
#: distance <= 7 via the r = 1 multi-index segment join. Sized empirically
#: against the exact shingle-Jaccard truth on the recall slices
#: (sf0.001/0.01/0.1): the round-8 32-bit UNIGRAM signature at radius 2
#: measured 0.50 recall with 157k emitted pairs at sf0.1 — on this corpus
#: docs share nearly all unigrams, so unigram signatures collapse while
#: edits in rare tokens flip >2 bits. Shingle features + 64 bits + radius 7
#: measure 0.89/1.00/0.89 recall with 62 emitted pairs (vs 70 true) at
#: sf0.1 — 2500× fewer emitted pairs at materially higher recall.
SIMHASH_BITS = 64
HAMMING_MAX = 7


def postings_of(docs: DataFrame, n: int = 3) -> DataFrame:
    """Flat (doc_id, g) shingle postings for ANY docs frame (doc_id, text)
    — the reusable core of _doc_postings, shared with the streaming
    incremental detector (streaming/dedup_incremental.py)."""
    d = docs.select("doc_id", shingles(tokens(), n).alias("sh"))
    return exploded(d, F.col("sh"), "g", "doc_id")


def bands_of(posts: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) LSH band keys from flat postings —
    signature via grouped min-aggregates (see dedup_minhash_lsh for why
    this beats the expression-form minhash ~4×)."""
    sig = posts.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"h{i}|"), F.col("g")))).alias(f"h{i}")
            for i in range(MINHASH_K)
        ]
    )
    return _bands_from_sig(sig)


def _bands_from_sig(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) from a (doc_id, h0..h{K-1}) signature
    frame — the band assembly shared by the classic and OPH detectors."""
    band_cols = []
    for b in range(LSH_BANDS):
        parts = [f"h{b * LSH_ROWS + r}" for r in range(LSH_ROWS)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws("|", *parts)).alias("band_hash"),
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "band.band_id", "band.band_hash")


def _doc_shingles(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents")
    return d.select("doc_id", shingles(tokens(), n).alias("sh"))


def _doc_postings(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Flat (doc_id, g) shingle postings. The flat form is the one to cache
    and join on: columnar-caching an ``array<string>`` column measured 3.9 s
    at sf0.1 vs sub-second for the exploded strings, and every downstream
    consumer (signature aggregate, candidate join, Jaccard verification)
    wants the exploded rows anyway. Exploded via plans.exploded — plain
    F.explode's implicit size>0 filter would re-evaluate the shingle
    expression serially below the _spread Exchange (measured 12 s vs 0.9 s
    at sf0.1)."""
    return exploded(_doc_shingles(spark, sf_dir, n), F.col("sh"), "g", "doc_id")


def _doc_sizes(posts: DataFrame) -> DataFrame:
    """(doc_id, n): each doc's set size from flat DISTINCT postings."""
    return posts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))


def _pair_join(pairs: DataFrame, per_doc: DataFrame) -> DataFrame:
    """``pairs`` (doc_i, doc_j, ...) with every column ``x`` of the
    one-row-per-doc frame ``per_doc`` (doc_id, x, ...) attached as ``x_i``
    for doc_i and ``x_j`` for doc_j."""

    def side(s: str) -> DataFrame:
        return per_doc.select(
            F.col("doc_id").alias(f"doc_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in per_doc.columns if c != "doc_id"],
        )

    return pairs.join(side("i"), "doc_i").join(side("j"), "doc_j")


def _verify_jaccard(posts: DataFrame, cand: DataFrame) -> DataFrame:
    """(doc_i, doc_j, c, n_i, n_j) for candidate pairs over flat DISTINCT
    (doc_id, g) postings: c common grams, n_i and n_j the set sizes.

    Verification is per CANDIDATE: one ``array_intersect`` on the two
    docs' gram arrays. A postings equi-join would instead re-multiply
    every candidate by its |set| postings (measured 5.8 s vs ~2 s on the
    media-gram truth's 827k candidates at sf0.1). The caller accepts:
    :func:`_jaccard_accept` for Jaccard, c/n_i and c/n_j for
    containment."""
    arrs = posts.groupBy("doc_id").agg(
        F.collect_list("g").alias("g"), F.count(F.lit(1)).alias("n")
    )
    return _pair_join(cand, arrs).select(
        "doc_i",
        "doc_j",
        F.size(F.array_intersect("g_i", "g_j")).alias("c"),
        "n_i",
        "n_j",
    )


def _jaccard_accept(v: DataFrame, q: tuple = JACCARD_Q) -> DataFrame:
    """(doc_i, doc_j, jaccard) of the (doc_i, doc_j, c, n_i, n_j) rows
    whose Jaccard c / (n_i + n_j − c) reaches q = (num, den). The accept is
    integer cross-multiplication, c·den >= num·(n_i + n_j − c), so the
    contract is rational end to end; the double ``jaccard`` is output
    only."""
    num, den = q
    union = F.col("n_i") + F.col("n_j") - F.col("c")
    return v.filter(F.col("c") * den >= union * num).select(
        "doc_i", "doc_j", (F.col("c").cast("double") / union).alias("jaccard")
    )


class VocabularySaturationError(RuntimeError):
    """The prefix filter's validity boundary, raised BEFORE the candidate
    join runs: when the feature space is small relative to the corpus
    (a saturated vocabulary — every doc's "rarest" prefix grams are hot),
    the prefix equi-join degrades toward all-pairs and its first symptom
    at scale is a full shuffle disk (observed at sf10 in round 8:
    Σ df_prefix² ≈ 2e10 on the 31-word synthetic vocabulary). The engine
    refuses predictably from a one-aggregate estimate instead of dying
    mid-shuffle."""

    def __init__(self, estimate: int, budget: int):
        self.estimate = estimate
        self.budget = budget
        super().__init__(
            f"prefix-join candidate volume estimate {estimate:,} exceeds "
            f"budget {budget:,}: the gram space is saturated relative to "
            f"the corpus, so prefix filtering would degrade toward "
            f"all-pairs; use dedup_ngram_pairs_capped (rare-gram "
            f"candidates) or dedup_minhash_lsh (banded candidates)"
        )


#: Candidate-volume budget (Σ df_prefix² — an upper bound on the prefix
#: equi-join's output rows) above which prefix_filtered_jaccard_pairs
#: refuses. Measured landscape on the synthetic corpus
#: (3-gram shingles at 7/10): 5.0e5 at sf0.1, 6.3e7 at sf1, 6.8e9 at
#: sf10 (the round-8 disk-filler's configuration; the exact estimate is
#: now recorded in BENCH_SCALING's sf10_saturation_evidence block, where
#: guard_trips=true); the media-gram truth slice is 6.0e5 at sf0.1. 2e9
#: sits 3.4× under the observed failure and 30× above the heaviest
#: healthy run — roughly the candidate count a 32-core executor wave
#: verifies in tens of seconds.
PREFIX_CANDIDATE_BUDGET = 2_000_000_000


def _prefix_postings(posts: DataFrame, num: int, den: int) -> DataFrame:
    """Each doc's first n − ceil(t·n) + 1 postings under the global
    (df ASC, g) order — the PPJoin prefix (integer-exact length; see
    prefix_filtered_jaccard_pairs). Keeps the order key (df), the
    posting's position (rn) and the set size (n): the length and
    positional filters read them off the join rows."""
    dfreq = posts.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    wp = Window.partitionBy("doc_id").orderBy("df", "g")
    return (
        posts.join(dfreq, "g")
        .join(_doc_sizes(posts), "doc_id")
        .withColumn("rn", F.row_number().over(wp))
        .filter(
            F.col("rn")
            <= F.col("n") - F.expr(f"({num} * n + {den} - 1) div {den}") + 1
        )
        .select("doc_id", "g", "df", "rn", "n")
    )


class CandidateVolumeError(RuntimeError):
    """Generalized form of :class:`VocabularySaturationError` for every
    candidate-generating equi-join detector (round-9 verdict ask #3): the
    join's EXACT output volume Σ_key c_a(k)·c_b(k), measured by one
    aggregate before the join runs, exceeded the detector's budget — an
    adversarial-density input (all titles within the edit threshold, all
    signatures sharing a segment) would otherwise be discovered by a full
    shuffle disk mid-join instead of a classified refusal."""

    def __init__(self, detector: str, estimate: int, budget: int, hint: str):
        self.detector = detector
        self.estimate = estimate
        self.budget = budget
        super().__init__(
            f"{detector}: candidate-join volume estimate {estimate:,} "
            f"exceeds budget {budget:,} — the join keys are saturated "
            f"relative to the corpus, so candidate generation would "
            f"degrade toward all-pairs; {hint}"
        )


def join_candidate_volume(
    a: DataFrame, keys: list, b: DataFrame | None = None
) -> int:
    """EXACT output row count of the equi-join of ``a`` with ``b`` (self-
    join when ``b`` is None) on ``keys``: Σ over key values of
    c_a(k)·c_b(k) — per-side key histograms (map-side-combinable counts
    over frames the detector's plan already builds) joined on the key and
    folded into one scalar. Linear in the join INPUT, which is the whole point: the guard
    pays O(n) to decide whether the join would pay O(n²)."""
    row = _candidate_volume_frame(a, keys, b).first()
    return int(row["v"] or 0)


def _candidate_volume_frame(
    a: DataFrame, keys: list, b: DataFrame | None = None
) -> DataFrame:
    """The 1-row (v double) estimate frame behind
    :func:`join_candidate_volume`. Counts are cast to DOUBLE before the
    multiply/sum: a single hot key with >~3e9 rows per side wraps a
    bigint product silently under non-ANSI Spark (and crashes under
    ANSI), turning the estimate negative and failing the guard OPEN on
    exactly the adversarial density it exists to refuse (round-10
    ADVICE). The guard is a threshold check, so double (exact to 2^53,
    monotone far beyond) is sufficient.

    The two-sided form is ONE shuffle, not two-histograms-plus-a-join:
    both sides union with a side tag and a single hash aggregate yields
    (c_a, c_b) per key (round-10 verdict ask #3 — the guard pre-pass was
    paying ~1.7 s of its ~1.7 s overhead rebuilding per-key counts)."""
    if b is None:
        ca = a.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("double").alias("ca")
        )
        return ca.agg(F.sum(F.col("ca") * F.col("ca")).alias("v"))
    u = a.select(
        *keys, F.lit(1).alias("na"), F.lit(0).alias("nb")
    ).unionByName(b.select(*keys, F.lit(0).alias("na"), F.lit(1).alias("nb")))
    c = u.groupBy(*keys).agg(
        F.sum("na").cast("double").alias("ca"),
        F.sum("nb").cast("double").alias("cb"),
    )
    return c.agg(F.sum(F.col("ca") * F.col("cb")).alias("v"))


#: Candidate-volume budget for the SimHash segment equi-join
#: (simhash_pairs at any probe radius). Same 2e9-row ceiling as
#: PREFIX_CANDIDATE_BUDGET: comfortably above every measured benign
#: landscape (the sf10 text detector's probe join emits ~4·17·n²/2¹⁷ ≈
#: 3e8 candidates at 500k docs) and far below a shuffle-disk-filling
#: degenerate one (all signatures equal ⇒ Σc² ≈ n_seg·n²).
SIMHASH_CANDIDATE_BUDGET = 2_000_000_000

#: Candidate-volume budget for the PassJoin deletion-neighborhood segment
#: join in dedup_fuzzy_prefix. Benign landscape on the synthetic corpus:
#: the (l, i, s) key multiplicity tracks true near-dup density (output-
#: sized); degenerate landscape (every title within distance k of every
#: other — a single hot segment key) is Σ ≈ 4·(2k+1)·n².
FUZZY_CANDIDATE_BUDGET = 2_000_000_000


def prefix_filtered_jaccard_pairs(
    posts: DataFrame,
    num: int,
    den: int,
    budget: int | None = PREFIX_CANDIDATE_BUDGET,
) -> DataFrame:
    """EXACT Jaccard >= num/den pairs from flat DISTINCT (doc_id, g)
    postings via PREFIX FILTERING (Chaudhuri et al. 2006; Xiao et al.
    2008, the PPJoin prefix) — the third candidate-generation strategy in
    the dedup ladder, EXACT unlike both neighbors: MinHash-LSH misses
    banding-unlucky pairs, the df-cap drops hot-shingle pairs outright.

    The theorem: order every set by one global total order (ascending
    document frequency, gram as tie-break — rare-first maximizes
    selectivity) and take each set's first ``n − ceil(t·n) + 1`` elements
    as its prefix; any pair with Jaccard >= t shares at least one PREFIX
    element, so the candidate equi-join runs on prefix postings only and
    verification (the exact common-count join) touches only candidates.
    The prefix length is computed in INTEGER arithmetic from the rational
    threshold (ceil(t·n) = (num·n + den − 1) div den): a float ``0.8·n``
    can round ABOVE the true product and silently shorten the prefix —
    an incompleteness bug, not an ulp nit.

    The two PPJoin refinements run on the join output BEFORE the
    pair-dedup shuffle and the verify joins (both integer-exact):

    - LENGTH filter: J >= t forces den·min(|x|,|y|) >= num·max(|x|,|y|)
      — a per-row compare on the sizes already riding the prefix rows.
    - POSITIONAL filter: for the pair's MINIMUM shared gram under the
      global order (which the prefix theorem guarantees sits in BOTH
      prefixes — any smaller shared gram would itself be prefix-resident)
      at positions (i, j), common <= 1 + min(|x|−i, |y|−j): no shared
      gram sorts below the minimum one, and every shared gram above it
      occupies positions > i and > j. Prune when that bound can't reach
      the required overlap ceil(num·(|x|+|y|)/(num+den)). The pair-dedup
      ``distinct`` becomes a same-shuffle groupBy picking that minimum
      occurrence, so the filter costs no extra exchange.

    Scale shape: df is one hash aggregate; prefix selection is one
    doc_id-partitioned window over each doc's ~|set| postings; the
    candidate join's cost is Σ df_prefix² — prefixes hold each doc's
    RAREST grams, so a hot key never generates candidates. Verification
    is the shared per-candidate :func:`_verify_jaccard`. Callers
    checkpoint ``posts`` (consumed by df, sizes, prefix, and the verify's
    array reassembly); the prefix frame is lazily localCheckpointed
    unconditionally (the candidate self-join reads it from both sides,
    and the guard's estimate reads it once more when budget is set) —
    blocks are GC-released when the result frame dies, never a
    session-lifetime CacheManager entry (the guarded-detector idiom of
    the simhash/fuzzy families; pinned by
    test_dedup_detectors_leave_no_persistent_blocks).

    VALIDITY BOUNDARY (the round-8 sf10 catch): prefix selectivity
    assumes the gram space dwarfs the corpus. On a saturated vocabulary
    (synthetic 31-word corpus at 500k docs; boilerplate-dense real
    corpora can reproduce it) every "rare" prefix gram is hot and the
    candidate join degrades toward all-pairs — so when ``budget`` is set,
    the exact join volume Σ df_prefix² is measured first (one aggregate)
    and the operator refuses with :class:`VocabularySaturationError`
    instead of filling the shuffle disk mid-join; the error names the
    detectors that run there (``dedup_ngram_pairs_capped``,
    ``dedup_minhash_lsh``).
    """
    # lazy localCheckpoint ALWAYS (r12): the candidate self-join references
    # pref from BOTH sides (plus the guard's estimate when budget is set) —
    # without the lineage cut the df+window prefix pipeline re-ran once per
    # reference (measured 2x on the media recall's sf10 slice when the
    # unguarded path skipped the checkpoint). Lazy, so unguarded callers
    # pay no extra blocking job; the guarded estimate materializes it.
    pref = _prefix_postings(posts, num, den).localCheckpoint(eager=False)
    if budget is not None:
        est = join_candidate_volume(pref, ["g"])
        if est > budget:
            raise VocabularySaturationError(est, budget)
    # required overlap and the positional upper bound, both integer-exact
    minov = F.expr(
        f"({num} * (n_i + n_j) + {num + den} - 1) div {num + den}"
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        # LENGTH filter, before the pair-dedup shuffle
        .filter(
            F.least(F.col("a.n"), F.col("b.n")) * den
            >= F.greatest(F.col("a.n"), F.col("b.n")) * num
        )
        .select(
            F.col("a.doc_id").alias("doc_i"),
            F.col("b.doc_id").alias("doc_j"),
            F.struct(
                F.col("a.df").alias("df"),
                F.col("g"),
                F.col("a.rn").alias("rn_i"),
                F.col("b.rn").alias("rn_j"),
                F.col("a.n").alias("n_i"),
                F.col("b.n").alias("n_j"),
            ).alias("occ"),
        )
        # pair-dedup AND minimum-shared-gram selection in ONE aggregate.
        # The struct leads with (df, g) — the SAME total order the prefix
        # positions were assigned under (min by g alone could pick a gram
        # that other shared grams sort BELOW, voiding the bound); per-doc
        # grams are distinct so the min is the first shared gram, which
        # the prefix theorem guarantees both prefixes hold.
        .groupBy("doc_i", "doc_j")
        .agg(F.min("occ").alias("occ"))
        .select("doc_i", "doc_j", "occ.rn_i", "occ.rn_j", "occ.n_i", "occ.n_j")
        # POSITIONAL filter: the overlap bound from the minimum shared
        # gram's positions must reach the required overlap
        .filter(
            1
            + F.least(
                F.col("n_i") - F.col("rn_i"), F.col("n_j") - F.col("rn_j")
            )
            >= minov
        )
        .select("doc_i", "doc_j")
    )
    return _jaccard_accept(_verify_jaccard(posts, cand), (num, den))


def _sql_doc_shingles(n: int = 3) -> str:
    t = sql_tokens()
    return (
        f"SELECT doc_id, {sql_shingles('toks', n)} AS sh "
        f"FROM (SELECT doc_id, {t} AS toks FROM documents)"
    )


def _sql_shingle_prelude() -> str:
    """The CTEs every shingle-set oracle starts from: ``s`` (doc_id, sh),
    its ``nonempty`` rows, and their flat postings ``e`` (doc_id, g)."""
    return f"""s AS ({_sql_doc_shingles()}),
    nonempty AS (SELECT * FROM s WHERE len(sh) > 0),
    e AS (SELECT doc_id, unnest(sh) AS g FROM nonempty)"""


def _sql_key_pairs(rel: str, keys: tuple) -> str:
    """DuckDB twin of :func:`_key_pairs` (self-join form): CTE ``cand`` of
    the distinct doc pairs of ``rel`` sharing every column in ``keys``."""
    on = " AND ".join(f"a.{k} = b.{k}" for k in keys)
    return f"""cand AS (
      SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
      FROM {rel} a JOIN {rel} b ON {on} AND a.doc_id < b.doc_id
    )"""


def _sql_verified_pairs(
    cand_ctes: str,
    out: str = "c::DOUBLE / (n_i + n_j - c) AS jaccard",
    accept: str = f"c::DOUBLE / (n_i + n_j - c) >= {JACCARD_THRESHOLD}",
) -> str:
    """DuckDB twin of :func:`_verify_jaccard` plus its caller's accept:
    the shingle prelude, ``cand_ctes`` (ending in ``cand`` (doc_i,
    doc_j)), then one list intersection per candidate giving (c, n_i,
    n_j), projected to ``out`` where ``accept`` holds (Jaccard by
    default)."""
    return f"""
    WITH {_sql_shingle_prelude()},
    {cand_ctes},
    v AS (
      SELECT doc_i, doc_j, len(list_intersect(si.sh, sj.sh)) AS c,
             len(si.sh) AS n_i, len(sj.sh) AS n_j
      FROM cand
      JOIN nonempty si ON si.doc_id = doc_i
      JOIN nonempty sj ON sj.doc_id = doc_j
    )
    SELECT doc_i, doc_j, {out} FROM v WHERE {accept}
    """


# --------------------------------------------------------------------------
# 1. exact dedup
# --------------------------------------------------------------------------


@query
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized token stream: one hash-aggregate on the
    md5 fingerprint; representative = min doc_id (deterministic keeper)."""
    d = load_spread(spark, sf_dir, "documents").withColumn(
        "toks", tokens()
    )
    return (
        d.withColumn("content_fp", F.md5(F.concat_ws(" ", "toks")))
        .groupBy("content_fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


def dedup_exact_oracle() -> str:
    t = sql_tokens()
    return f"""
    SELECT md5(array_to_string({t}, ' ')) AS content_fp,
           count(*) AS n_docs, min(doc_id) AS keeper_doc_id
    FROM documents GROUP BY content_fp
    """


# --------------------------------------------------------------------------
# 2. n-gram Jaccard pairs
# --------------------------------------------------------------------------


@query
@shared_fit("ngram_exact_pairs")
def dedup_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with 3-token-shingle Jaccard ≥ 0.7: the exact
    all-pairs kernel :func:`_truth_pairs_from` over the corpus postings.
    Quadratic in shingle-bucket occupancy — see module docstring; the LSH
    variant below is the scale path.

    NB: no ``filter(size(sh) > 0)`` anywhere in this family — Catalyst
    pushes such a predicate below the ``_spread`` Exchange, re-evaluating
    the whole shingle expression serially in the scan task (measured 6 s
    of the 8 s total at sf0.1). Empty-shingle docs are harmless: explode
    emits nothing for them and candidates only arise from inner joins.

    A shared fit: ``dedup_minhash_recall`` scores its banding loss
    against exactly this pair set, so the two queries share one
    checkpointed detection per session.
    """
    return _truth_pairs_from(_posts_checkpoint(spark, sf_dir))


def _truth_pairs_from(posts: DataFrame) -> DataFrame:
    """The exact all-pairs kernel: (doc_i, doc_j, jaccard) for every pair
    of a flat DISTINCT (doc_id, g) postings frame with Jaccard >= 0.7. ONE
    postings self-join whose pair aggregate yields the common counts
    directly — never a candidate distinct followed by re-joining the
    postings; that shape re-multiplies every pair by its shingles and
    measured 2.5x slower. Serves ``dedup_ngram_pairs`` (corpus postings)
    and the text recall twins' truth (``_recall_slice_shared``, the eval
    slice's postings)."""
    common = (
        posts.alias("a")
        .join(posts.alias("b"), "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # no explicit broadcast: sizes is one row per DOCUMENT, which only
    # fits a broadcast at the sampled eval scale — AQE picks broadcast
    # when it fits and degrades to a shuffle join when it doesn't
    return _jaccard_accept(_pair_join(common, _doc_sizes(posts)))


@query
def dedup_ngram_pairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT twin of :func:`dedup_ngram_pairs` via prefix filtering
    (:func:`prefix_filtered_jaccard_pairs`) — identical output, identical
    oracle, but the candidate join runs only on each document's rarest
    ``n − ceil(0.7·n) + 1`` shingles instead of all of them, so a hot
    boilerplate shingle costs nothing. This is the EXACT scale path the
    uncapped baseline's docstring promises: LSH trades recall, the
    df-cap trades completeness; the prefix filter trades neither — its
    cost concentrates where near-duplicates actually are. Honest trade,
    measured at sf0.1: ~4.7 s vs the naive join's ~2.3 s on THIS corpus
    (3-token shingles over a 31-word vocabulary are already rare keys,
    so the naive Σdf² is small and the df/window/verify machinery is
    pure overhead) — the variant earns its keep when a key gets hot,
    which is exactly what BENCH_SKEW measures it under.

    Validity boundary (measured by the sf10 scaling decade, which caught
    a disk-filling candidate join): prefix selectivity presumes the
    feature space dwarfs the corpus. This synthetic vocabulary admits
    only 31³ = 29,791 distinct shingles, so past ~100k docs even the
    "rarest" prefix shingles carry df in the thousands and the candidate
    set degrades toward all-pairs — the same vocabulary-saturation
    property the repo classifies for dedup_simhash/dedup_fuzzy_prefix
    (OUTPUT_QUADRATIC_BY_DATA). Real corpora have unbounded Zipfian
    vocabularies, where the prefix df distribution stays selective at
    any n; on saturated feature spaces, no EXACT all-pairs detector is
    subquadratic because the answer itself is dense (SF10_EXCLUDE entry,
    bench_scaling.py).
    """
    # LAZY is right here (eager was tried and reverted — isolated wall
    # 3.0 -> 3.7 s with no job-time saving): the guard's candidate-volume
    # estimate is its own action that materializes the checkpoint before
    # the main join runs, so the concurrent-stage duplication the
    # UNGUARDED detectors suffered cannot happen on this path
    posts = _doc_postings(spark, sf_dir).localCheckpoint(eager=False)
    return prefix_filtered_jaccard_pairs(posts, *JACCARD_Q)


def dedup_ngram_pairs_prefix_oracle() -> str:
    # identical contract to the baseline: the prefix filter is complete,
    # so the independent check IS the all-pairs oracle
    return dedup_ngram_pairs_oracle()


def dedup_ngram_pairs_oracle() -> str:
    # every pair sharing a shingle, verified: pairs sharing none have
    # Jaccard 0
    return _sql_verified_pairs(_sql_key_pairs("e", ("g",)))


#: Max document frequency for a shingle to participate in capped candidate
#: generation. Hot shingles (boilerplate) drive the Σ(bucket²) join cost but
#: carry no dedup signal; near-dup pairs share many shingles, so requiring
#: one shared RARE shingle keeps recall while bounding each bucket at
#: NGRAM_DF_CAP² pairs.
NGRAM_DF_CAP = 4


def _key_pairs(a: DataFrame, keys: list, b: DataFrame | None = None) -> DataFrame:
    """Distinct (doc_i < doc_j) candidate pairs of docs sharing a value of
    ``keys``: the self-equi-join of ``a``, or ``a`` against ``b``, whose
    docs may fall on either side of a pair. The candidate join of the
    band and rare-gram detectors: a key's bucket holds few docs, so the
    join is linear, not quadratic."""
    j = a.alias("a").join((a if b is None else b).alias("b"), keys)
    x, y = F.col("a.doc_id"), F.col("b.doc_id")
    return (
        j.filter(x < y if b is None else x != y)
        .select(F.least(x, y).alias("doc_i"), F.greatest(x, y).alias("doc_j"))
        .distinct()
    )


def _df_capped_pairs(posts: DataFrame) -> DataFrame:
    """(doc_i, doc_j, c, n_i, n_j) verify rows of the df-capped candidates
    over flat (doc_id, g) postings, shared by ``dedup_ngram_pairs_capped``
    and ``dedup_containment_pairs``: candidates must share a gram seen in
    <= NGRAM_DF_CAP docs (bucket cost capped at NGRAM_DF_CAP², immune to
    feature-space saturation by construction), then
    :func:`_verify_jaccard` counts the full sets."""
    rare = (
        posts.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= NGRAM_DF_CAP)
        .select("g")
    )
    cand = _key_pairs(posts.join(rare, "g", "left_semi"), ["g"])
    return _verify_jaccard(posts, cand)


def _posts_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus postings, checkpointed EAGERLY for a detector whose one
    action reads them from several subtrees (signature or df aggregate,
    candidate join sides, the verify's array reassembly). AQE submits
    those as concurrent stage jobs, and a lazy cache() or checkpoint
    re-ran the shingle explode per consumer (MinHash: job-time sum 12.9 s
    vs 4.9 s wall). The blocks are GC-released with the result frame."""
    return _doc_postings(spark, sf_dir).localCheckpoint(eager=True)


@query
def dedup_ngram_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-capped n-gram dedup: candidates must share a shingle seen
    in ≤ NGRAM_DF_CAP docs; Jaccard is then verified on the FULL shingle
    sets. This is the scale-safe form of dedup_ngram_pairs: bucket cost is
    capped at DF_CAP² instead of (hot-shingle df)², and the cap drops the
    boilerplate shingles that dominate the join volume on real corpora.
    """
    return _jaccard_accept(_df_capped_pairs(_posts_checkpoint(spark, sf_dir)))


def _sql_df_capped_cand() -> str:
    """DuckDB twin of ``_df_capped_pairs``' candidates: CTEs ending in
    ``cand``, pairs sharing a shingle held by <= NGRAM_DF_CAP docs."""
    return f"""rare AS (SELECT g FROM e GROUP BY g HAVING count(*) <= {NGRAM_DF_CAP}),
    re AS (SELECT e.* FROM e SEMI JOIN rare ON e.g = rare.g),
    {_sql_key_pairs("re", ("g",))}"""


def dedup_ngram_pairs_capped_oracle() -> str:
    return _sql_verified_pairs(_sql_df_capped_cand())


# --------------------------------------------------------------------------
# 3. MinHash + LSH
# --------------------------------------------------------------------------


@query
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard —
    read through the session memo, so the detection runs once however
    many of its seven consumers (this query, the clustering family,
    split leakage, keeper selection, source overlap, corpus splits)
    execute in a session."""
    return minhash_pairs_shared(spark, sf_dir)


@shared_fit("minhash_pairs")
def minhash_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup pair list, ONE detection per session, shared
    by six downstream consumers (the clustering family, split leakage,
    keeper selection, source overlap, corpus splits); the output is
    pairs-sized (≪ corpus).

    Candidate generation joins on (band_id, band_hash) — expected O(1)
    occupancy per bucket, so the join is linear, not quadratic; the
    shared verify counts common shingles per candidate. Signature via
    explode + codegen'd min-aggregates: md5 is evaluated once per (seed,
    shingle) either way, but the expression-form
    (functions.text_features.minhash) runs 12 interpreted higher-order
    array_min passes per row; the grouped form is one shuffle on doc_id
    and ~4× faster at sf0.1. Values are identical."""
    posts = _posts_checkpoint(spark, sf_dir)
    return _banded_pairs(posts, bands_of(posts))


def _band_candidates(a: DataFrame, b: DataFrame | None = None) -> DataFrame:
    """Distinct (doc_i, doc_j) candidate pairs of (doc_id, band_id,
    band_hash) frames — the band join of the classic and OPH detectors
    (self-join) and of the incremental store (batch × batch, batch ×
    store): expected O(1) occupancy per bucket, so the join is linear."""
    return _key_pairs(a, ["band_id", "band_hash"], b)


def _banded_pairs(posts: DataFrame, bands: DataFrame) -> DataFrame:
    """(doc_i, doc_j, jaccard): the pairs of a (doc_id, band_id,
    band_hash) banding that pass the exact Jaccard verify — the one
    detector body of the classic and OPH signatures and their recall
    twins; only the signature differs."""
    return _jaccard_accept(_verify_jaccard(posts, _band_candidates(bands)))


def dedup_minhash_lsh_oracle() -> str:
    sig_cols = ", ".join(
        f"{sql_minhash('sh', i)} AS h{i}" for i in range(MINHASH_K)
    )
    band_rows = []
    for b in range(LSH_BANDS):
        parts = " || '|' || ".join(
            f"h{b * LSH_ROWS + r}" for r in range(LSH_ROWS)
        )
        band_rows.append(f"SELECT doc_id, {b} AS band_id, md5({parts}) AS band_hash FROM sig")
    return _sql_verified_pairs(
        f"""sig AS (SELECT doc_id, sh, {sig_cols} FROM nonempty),
    bands AS ({" UNION ALL ".join(band_rows)}),
    {_sql_key_pairs("bands", ("band_id", "band_hash"))}"""
    )


# --------------------------------------------------------------------------
# 3b. One-permutation MinHash (OPH) — single-hash-pass signatures
# --------------------------------------------------------------------------

#: OPH bin count = classic signature length, so the banding geometry
#: (LSH_BANDS × LSH_ROWS) is shared verbatim with dedup_minhash_lsh.
OPH_BINS = MINHASH_K


def _oph_signature(posts: DataFrame) -> DataFrame:
    """Densified one-permutation MinHash signature (doc_id, h0..h11) from
    flat (doc_id, g) postings — ONE md5 per posting where the classic
    signature (bands_of) evaluates MINHASH_K=12: the shingle hash is the
    dominant map-side cost of near-dedup at corpus scale, so this is the
    production-rate variant (Shrivastava & Li, ICML'14 "Densifying One
    Permutation Hashing via Rotation", public method).

    Mechanics: each shingle is hashed once; the first 8 hex digits route it
    to one of OPH_BINS bins, the remaining 24 are the rank value. Bin
    minima come from the same grouped min-aggregate shape as bands_of
    (codegen'd, map-side combinable). Empty bins (a doc with few shingles
    may miss bins) are densified by ROTATION: slot i borrows the value of
    the nearest non-empty bin at cyclic offset >= 0 — expressed as a
    static coalesce ladder over a per-doc map, evaluated on the one-row-
    per-doc frame (tiny). Two docs sharing their non-empty bins borrow
    identically, which is what makes the densified estimator unbiased.
    """
    h = posts.select(
        "doc_id", F.md5(F.concat(F.lit("oph|"), F.col("g"))).alias("hx")
    )
    mins = (
        h.select(
            "doc_id",
            (
                F.conv(F.substring("hx", 1, 8), 16, 10).cast("long")
                % OPH_BINS
            ).alias("bin"),
            F.substring("hx", 9, 24).alias("v"),
        )
        .groupBy("doc_id", "bin")
        .agg(F.min("v").alias("mv"))
    )
    doc_map = mins.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("bin", "mv"))).alias("m")
    )
    # one selectExpr parse for the OPH_BINS² rotation probes — the
    # Column-form coalesce/try_element_at grid cost ~0.5 s of py4j
    # round-trips per invocation (driver-side construction only)
    slots = [
        "coalesce("
        + ", ".join(
            f"try_element_at(m, CAST({(i + off) % OPH_BINS} AS BIGINT))"
            for off in range(OPH_BINS)
        )
        + f") AS h{i}"
        for i in range(OPH_BINS)
    ]
    return doc_map.selectExpr("doc_id", *slots)


@query
def dedup_minhash_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via ONE-PERMUTATION MinHash banding, verified with
    exact Jaccard — same contract and output shape as dedup_minhash_lsh,
    1/12th of its signature hash work.

    Why it exists: at 100 TB the near-dedup map side is hash-bound — the
    classic signature evaluates MINHASH_K=12 md5's per (doc, shingle)
    posting; OPH evaluates exactly one and recovers a K-slot signature by
    binning + rotation densification (see _oph_signature). Everything
    downstream (band keys, linear bucket equi-join, exact-Jaccard verify)
    is shared code, and the verify makes output pairs exact regardless of
    signature quality — the signature only decides WHICH pairs are
    examined, and its banding loss is measured by
    ``dedup_minhash_oph_recall`` against the same truth slice the classic
    twin uses: recall 1.00/1.00/1.00 at sf0.001/0.01/0.1, identical to the
    classic signature's, with near-identical verified-pair counts on the
    full corpus (256 vs 255 at sf0.1 — both exact-verified, the delta is
    banding luck on sub-threshold candidates).
    """
    posts = _posts_checkpoint(spark, sf_dir)
    return _banded_pairs(posts, _bands_from_sig(_oph_signature(posts)))


def dedup_minhash_oph_oracle() -> str:
    k = OPH_BINS
    return _sql_verified_pairs(
        f"""hx AS (SELECT doc_id, md5('oph|' || g) AS hx FROM e),
    mins AS (
      SELECT doc_id,
             CAST(CAST('0x' || substr(hx, 1, 8) AS UBIGINT) % {k} AS INTEGER)
               AS bin,
             min(substr(hx, 9, 24)) AS mv
      FROM hx GROUP BY doc_id, bin
    ),
    slots AS (
      SELECT m.doc_id, t.i AS slot,
             arg_min(m.mv, (m.bin - t.i + {k}) % {k}) AS mv
      FROM mins m CROSS JOIN (SELECT unnest(range({k})) AS i) t
      GROUP BY m.doc_id, t.i
    ),
    bands AS (
      SELECT doc_id, slot // {LSH_ROWS} AS band_id,
             md5(string_agg(mv, '|' ORDER BY slot)) AS band_hash
      FROM slots GROUP BY doc_id, slot // {LSH_ROWS}
    ),
    {_sql_key_pairs("bands", ("band_id", "band_hash"))}"""
    )


# --------------------------------------------------------------------------
# 4. SimHash
# --------------------------------------------------------------------------

#: The join key of SimHash segment rows (doc_id, simhash, seg_id, seg_val).
SEG_KEYS = ["seg_id", "seg_val"]

#: Per signature width, the long whose bit k is one feature's vote for
#: signature bit k, from the feature's md5 hex digest ``m``. 32 bits: the
#: parity of hex digit k+1 (functions.text_features.simhash / sql_simhash).
#: 64 bits: bit k%4 of hex digit k//4+1 (_sql_simhash64_sig), read as two
#: 8-digit halves so no conv() result reaches 2^63.
_SIMHASH_VOTE_BITS = {
    32: "CAST(conv(reverse(translate(m, '0123456789abcdef',"
    " '0101010101010101')), 2, 10) AS BIGINT)",
    64: "shiftleft(CAST(conv(reverse(substr(m, 9, 8)), 16, 10) AS BIGINT), 32)"
    " | CAST(conv(reverse(substr(m, 1, 8)), 16, 10) AS BIGINT)",
}


def simhash_sig(posts: DataFrame, col: str, bits: int) -> DataFrame:
    """(doc_id, simhash): the ``bits``-bit SimHash of flat DISTINCT
    (doc_id, ``col``) feature postings. Bit k is set when more than half of
    the doc's features vote for it (``_SIMHASH_VOTE_BITS``); a doc without
    postings has no row.

    One md5 per posting, packed into one long; one aggregate sums the votes
    in two 32-bit lanes per column (bit j low, bit j + bits/2 high — a lane
    counts at most the doc's postings, < 2^31); one parsed expression ORs
    the majority bits."""
    half = bits // 2
    votes = (
        posts.withColumn("m", F.md5(col))
        .withColumn("v", F.expr(_SIMHASH_VOTE_BITS[bits]))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.expr(f"sum(((v >> {j}) & 1) | (((v >> {j + half}) & 1) << 32))")
                .alias(f"p{j}")
                for j in range(half)
            ],
        )
    )
    lane = lambda k: (  # noqa: E731
        f"(p{k - half} >> 32)" if k >= half else f"(p{k} & 4294967295)"
    )
    sig = " | ".join(
        f"(CASE WHEN {lane(k)} * 2 > n THEN shiftleft(CAST(1 AS BIGINT), {k})"
        " ELSE CAST(0 AS BIGINT) END)"
        for k in range(bits)
    )
    return votes.select("doc_id", F.expr(sig).alias("simhash"))


def simhash_segments(sig: DataFrame, bits: int, hmax: int, r: int) -> tuple:
    """(exact, probes) segment rows (doc_id, simhash, seg_id, seg_val) of a
    (doc_id, simhash) frame, cut into ``hmax // (r + 1) + 1`` segments (the
    last takes the remainder bits). ``exact`` holds each segment's value;
    ``probes`` holds that value XOR every mask of at most ``r`` bits, and is
    ``exact`` itself at r = 0.

    Completeness: n_seg·(r + 1) > hmax, so two signatures within Hamming
    distance hmax differ in at most r bits of some segment, where the
    exact value of one meets a probe of the other on SEG_KEYS."""
    n_seg = hmax // (r + 1) + 1
    w = bits // n_seg
    exact, probes = [], []
    for sid in range(n_seg):
        width = w if sid < n_seg - 1 else bits - sid * w
        seg = f"(shiftright(simhash, {sid * w}) & {(1 << width) - 1})"
        exact.append(f"named_struct('seg_id', {sid}, 'seg_val', {seg})")
        probes += [
            f"named_struct('seg_id', {sid}, 'seg_val', "
            f"{seg} ^ {sum(1 << b for b in flip)})"
            for k in range(1, r + 1)
            for flip in itertools.combinations(range(width), k)
        ]

    def rows(structs: list) -> DataFrame:
        return sig.select(
            "doc_id",
            "simhash",
            F.expr(f"explode(array({', '.join(structs)}))").alias("s"),
        ).select("doc_id", "simhash", "s.seg_id", "s.seg_val")

    e = rows(exact)
    return e, (rows(exact + probes) if r else e)


def simhash_verified_pairs(sides: list, hmax: int) -> DataFrame:
    """(doc_i, doc_j, hamming <= hmax) pairs from (a, b) segment-row frame
    pairs: each ``a`` joined to its ``b`` on SEG_KEYS with
    a.doc_id < b.doc_id, the exact Hamming filter, then ONE pair dedup (a
    pair agreeing on several segments arrives once per agreement; the
    filter runs first, so the dedup shuffle sees only true pairs)."""
    cand = functools.reduce(
        DataFrame.unionByName,
        [
            a.alias("a")
            .join(b.alias("b"), SEG_KEYS)
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_i"),
                F.col("b.doc_id").alias("doc_j"),
                F.bit_count(
                    F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                ).alias("hamming"),
            )
            for a, b in sides
        ],
    )
    return (
        cand.filter(F.col("hamming") <= hmax)
        .groupBy("doc_i", "doc_j")
        .agg(F.min("hamming").alias("hamming"))
    )


def simhash_pairs(
    sig: DataFrame,
    bits: int,
    hmax: int,
    r: int,
    key_cap: int | None = None,
    budget: int | None = SIMHASH_CANDIDATE_BUDGET,
) -> DataFrame:
    """All (doc_i, doc_j, hamming <= hmax) pairs of a (doc_id, simhash)
    frame without an all-pairs join: the multi-index scheme of Manku et
    al. (WWW 2007) at per-segment probe radius ``r`` (simhash_segments;
    r = 0 is the pigeonhole join). A wider probe buys wider segments: at
    64 bits and hmax 7, r = 1 joins 4 segments of 16 bits (candidate floor
    ~4·17·n²/2¹⁷) where r = 0 needs 8 of 8 bits (~8·n²/2⁹).

    Cap: with ``key_cap``, segment keys holding more than ``key_cap`` exact
    rows are dropped before the join, bounding candidates at
    key_cap·n_seg·n. Survivors are verified exactly, so the output is the
    subset of the exact pairs that some kept key emits.

    Guard: with ``budget``, the volume of the join about to run,
    Σ_key c_exact·c_probe (join_candidate_volume), is measured first, and a
    degenerate signature space (near-identical inputs, one hot key) raises
    CandidateVolumeError instead of filling the shuffle disk."""
    if budget is not None:
        # the estimate and both join sides read the signatures; an eager
        # localCheckpoint is GC-released, unlike a cache()
        sig = sig.localCheckpoint(eager=True)
    exact, probes = simhash_segments(sig, bits, hmax, r)
    if key_cap is not None:
        exact = exact.localCheckpoint(eager=True)
        ok = (
            exact.groupBy(*SEG_KEYS)
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") <= key_cap)
            .select(*SEG_KEYS)
        )
        probes = (probes if r else exact).join(ok, SEG_KEYS, "left_semi")
        exact = exact.join(ok, SEG_KEYS, "left_semi")
    if budget is not None:
        est = join_candidate_volume(exact, SEG_KEYS, probes if r else None)
        if est > budget:
            name, inputs = (
                ("simhash_pigeonhole_pairs", "payloads")
                if r == 0
                else ("simhash_multiprobe_pairs", "documents")
            )
            raise CandidateVolumeError(
                name,
                est,
                budget,
                f"the signature space is degenerate (near-identical "
                f"{inputs}); run exact dedup first or raise the budget",
            )
    return simhash_verified_pairs([(exact, probes)], hmax)


@query
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs within Hamming distance HAMMING_MAX of the 64-bit
    SimHash of each doc's 3-gram shingles (sizing: the SIMHASH_BITS note),
    from the r = 1 multi-index join — 16-bit segments, so the candidate
    volume stays truth-sized through the sf10 decade."""
    sig = simhash_sig(_doc_postings(spark, sf_dir), "g", SIMHASH_BITS)
    return simhash_pairs(sig, SIMHASH_BITS, HAMMING_MAX, 1)


def sql_pigeonhole_capped_pairs(
    sig_cte: str, bits: int, hmax: int, key_cap: int
) -> str:
    """DuckDB reference for ``simhash_pairs(r=0, key_cap=...)`` over a CTE
    named ``sig_cte`` with (doc_id, simhash): hmax+1 segments from
    unrolled VALUES (the last takes the remainder bits), bucket-occupancy
    filter, self-join, exact-Hamming verify, min-hamming pair dedup."""
    n_seg = hmax + 1
    w = bits // n_seg
    vals = ", ".join(
        f"({sid}, {sid * w}, {w if sid < n_seg - 1 else bits - sid * w})"
        for sid in range(n_seg)
    )
    return f"""
    seg AS (
      SELECT doc_id, simhash, t.seg_id,
             (simhash >> t.o) & ((1::BIGINT << t.w) - 1) AS seg_val
      FROM {sig_cte}, (VALUES {vals}) AS t(seg_id, o, w)
    ),
    ok AS (
      SELECT seg_id, seg_val FROM seg
      GROUP BY seg_id, seg_val HAVING count(*) <= {key_cap}
    ),
    sr AS (
      SELECT seg.* FROM seg SEMI JOIN ok
        ON seg.seg_id = ok.seg_id AND seg.seg_val = ok.seg_val
    )
    SELECT doc_i, doc_j, min(hamming) AS hamming FROM (
      SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM sr a JOIN sr b
        ON a.seg_id = b.seg_id AND a.seg_val = b.seg_val
       AND a.doc_id < b.doc_id
    ) WHERE hamming <= {hmax}
    GROUP BY doc_i, doc_j
    """


def _sql_simhash64_sig() -> str:
    """DuckDB twin of ``simhash_sig(..., 64)`` over the 3-gram shingle
    postings: one md5 per (doc, shingle), 64 per-bit vote sums, majority
    vote. Bit k's weight for k=63 is the BIGINT min (the sign bit) so the
    signature is the same two's-complement long Spark produces."""
    from komodo_data_spark.functions.text_features import HEX

    votes = ", ".join(
        f"sum((strpos('{HEX}', substr(m, {k // 4 + 1}, 1)) - 1) "
        f"// {1 << (k % 4)} % 2) AS v{k}"
        for k in range(SIMHASH_BITS)
    )
    weights = " + ".join(
        f"(CASE WHEN v{k} * 2 > n THEN "
        f"{(1 << k) if k < 63 else -(1 << 63)} ELSE 0 END)"
        for k in range(SIMHASH_BITS)
    )
    return f"""
    SELECT doc_id, ({weights})::BIGINT AS simhash FROM (
      SELECT doc_id, count(*) AS n, {votes}
      FROM (SELECT doc_id, md5(g) AS m
            FROM (SELECT doc_id, unnest(sh) AS g
                  FROM ({_sql_doc_shingles()})))
      GROUP BY doc_id)
    """


def dedup_simhash_oracle() -> str:
    return f"""
    WITH sig AS ({_sql_simhash64_sig()})
    SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """


# --------------------------------------------------------------------------
# 5. embedding cosine near-dup
# --------------------------------------------------------------------------


def _cos(e_a, e_b):
    dot = F.aggregate(
        F.zip_with(e_a, e_b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.aggregate(e_a, F.lit(0.0), lambda acc, v: acc + v * v)
    nb = F.aggregate(e_b, F.lit(0.0), lambda acc, v: acc + v * v)
    return dot / (F.sqrt(na) * F.sqrt(nb))


#: Block count for the exact all-pairs triangle join. Per-task memory is two
#: blocks (2·(n/B)·d·8 bytes); shuffle volume is n·(B+1)/2 rows. Size B so a
#: block fits comfortably in executor memory at the target scale — e.g. at
#: 10M×64d vectors, B=128 → ~40 MB/block, 8256 block-pair tasks.
EMB_BLOCKS = 8


def _matmul_hits(l_ids, l_mat, r_ids, r_mat, diagonal: bool):
    """BLAS cosine of two id/matrix blocks, thresholded; canonical
    (min_id, max_id) pairs. Diagonal blocks keep the strict upper triangle
    by id so each unordered pair is emitted exactly once."""
    import numpy as np
    import pandas as pd

    l_nrm = np.sqrt((l_mat * l_mat).sum(axis=1))
    r_nrm = np.sqrt((r_mat * r_mat).sum(axis=1))
    sims = (l_mat @ r_mat.T) / np.outer(l_nrm, r_nrm)
    hit = sims >= COSINE_THRESHOLD
    if diagonal:
        hit &= l_ids[:, None] < r_ids[None, :]
    li, rj = np.nonzero(hit)
    a, b = l_ids[li], r_ids[rj]
    return pd.DataFrame(
        {
            "vec_i": np.minimum(a, b),
            "vec_j": np.maximum(a, b),
            "cosine": sims[li, rj],
        }
    )


@query
@shared_fit("emb_exact_pairs")
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector near-dup: pairs with cosine ≥ 0.45 over array<float>.

    Exact all-pairs via a distributed block-pair (triangle) join — NOTHING is
    collected to the driver. Vectors hash into B blocks; each unordered block
    pair (bi ≤ bj) becomes one cogroup task whose two sides are BLAS-matmul'd
    (float64) and thresholded. The left side replicates each row to pairs
    (blk, blk..B-1), the right to (0..blk, blk), so every unordered block
    pair meets in exactly one task: off-diagonal tasks emit (min_id, max_id)
    for every hit; diagonal tasks keep the upper triangle. Cost model is the
    honest O(n²/B) exact bound — per-task memory 2·(n/B)·d·8 bytes, shuffle
    n·(B+1)/2 rows — all executor-side, unlike a broadcast built from a
    driver collect whose ceiling is driver RAM. For approximate-at-scale,
    LSH-bucket first (dedup_embedding_lsh below): candidate volume drops
    2^bits-fold and the same per-bucket matmul applies.

    A shared fit: the recall eval (``dedup_embedding_recall``) scores
    exactly this pair set.
    """
    # NULL vectors cannot be near anything (their cosine is NULL, which
    # never clears the threshold — same in the oracle); drop them BEFORE
    # the pandas stage, where np.stack over a None would kill the task
    v = (
        load_spread(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    return _embedding_pairs_from(v)


def _embedding_pairs_from(
    v: DataFrame, blocks: int = EMB_BLOCKS
) -> DataFrame:
    """The exact block-pair triangle join over a (vec_id, embedding)
    frame — shared by the full-corpus operator and the fixed-budget
    sampled recall eval. ``blocks`` partitions WORK only — the output
    pair set is identical at any value (every unordered vector pair
    meets in exactly one task regardless) — so the fixed-size eval slice
    passes a small count instead of paying EMB_BLOCKS·(EMB_BLOCKS+1)/2
    near-empty Arrow tasks sized for the full corpus."""
    import numpy as np
    import pandas as pd

    B = blocks
    blk = F.pmod(F.hash("vec_id"), F.lit(B))
    left = v.withColumn("bi", blk).withColumn(
        "bj", F.explode(F.sequence(F.col("bi"), F.lit(B - 1)))
    )
    # The right side MUST carry distinct attribute names: a self-cogroup
    # where both sides share one scan lineage lets Catalyst alias the right
    # side's (vec_id, embedding) to the left's attribute ids and prune them
    # out of the right-hand Arrow batches entirely (observed: r_pdf arrives
    # with only [bj, bi]). Renaming forces fresh exprIds on a real Project.
    right = (
        v.select(
            F.col("vec_id").alias("r_vec_id"),
            F.col("embedding").alias("r_embedding"),
        )
        .withColumn("bj", F.pmod(F.hash("r_vec_id"), F.lit(B)))
        .withColumn("bi", F.explode(F.sequence(F.lit(0), F.col("bj"))))
    )

    def pair_blocks(key, l_pdf, r_pdf):
        if l_pdf.empty or r_pdf.empty:
            return pd.DataFrame(
                {
                    "vec_i": np.array([], dtype=np.int64),
                    "vec_j": np.array([], dtype=np.int64),
                    "cosine": np.array([], dtype=np.float64),
                }
            )
        return _matmul_hits(
            l_pdf["vec_id"].to_numpy(),
            np.stack(l_pdf["embedding"].to_numpy()).astype(np.float64),
            r_pdf["r_vec_id"].to_numpy(),
            np.stack(r_pdf["r_embedding"].to_numpy()).astype(np.float64),
            diagonal=key[0] == key[1],
        )

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(pair_blocks, schema="vec_i long, vec_j long, cosine double")
    )


#: Sign-bit planes for the approximate LSH variant. 6 bits → 64 buckets;
#: expected bucket occupancy n/64, so per-bucket matmul cost is n²/64 total.
EMB_LSH_BITS = 6

#: Per-task row cap inside a bucket. LSH occupancy is only EXPECTED to be
#: n/2^bits — duplicate-heavy corpora (default/zero embeddings, re-encoded
#: shards) pile into one bucket, and an uncapped per-bucket matmul is then
#: a single-task O(hot²) memory cliff. Buckets larger than this split into
#: the same triangle block-pair scheme as the exact operator, so per-task
#: memory stays ≤ 2·CAP·d·8 bytes no matter how hot a bucket gets.
EMB_LSH_TASK_ROWS = 4096


@query
@shared_fit("emb_lsh_pairs")
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine near-dup: candidates restricted to the same
    sign-bit LSH bucket (bit i = sign of dim i), then an exact BLAS matmul
    within the bucket. This is the 100 TB default path: bucketing is a
    map-side Catalyst expression and candidate volume drops 2^bits-fold vs
    all-pairs. Hot buckets (duplicate-heavy embeddings) do NOT become one
    giant task, and cold buckets do NOT pay for the hot-bucket machinery:
    the plan routes on per-bucket occupancy (a 2^bits-row broadcast).
    Buckets at or under the cap take the single-shuffle
    ``groupBy(bkt).applyInPandas`` matmul (one exchange of the vectors,
    per-task rows ≤ cap by construction); buckets over the cap split into
    ceil(occupancy / cap) hash blocks where every unordered block pair
    meets in its own cogroup task — the exact operator's triangle scheme,
    keyed by (bkt, bi, bj). The round-4 shape ran EVERY bucket through the
    two-sided cogroup, shuffling the vectors twice and costing ~1.8× wall
    on cap-respecting data (the common case); the hybrid restores the
    round-3 single-exchange plan there while keeping the memory bound.
    Recall is tunable via bits/multiprobe (see knn_lsh_multiprobe); the
    oracle mirrors the bucket restriction exactly (routing never changes
    the result set), so correctness is deterministic.

    A shared fit: the recall eval scores exactly this pair set.
    """
    # NULL vectors cannot be near anything (their cosine is NULL, which
    # never clears the threshold — same in the oracle); drop them BEFORE
    # the pandas stage, where np.stack over a None would kill the task.
    # Plain load_table, not load_spread: the per-row work all happens
    # AFTER the bkt exchange (which already distributes the vectors), so
    # a round-robin pre-spread is a pure extra materialization here.
    v = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    return _embedding_lsh_from(v)


def _embedding_lsh_from(v: DataFrame) -> DataFrame:
    """The occupancy-routed sign-bit-bucket detector over a
    (vec_id, embedding) frame — shared by the full-corpus operator and
    the fixed-budget sampled recall eval."""
    import numpy as np
    import pandas as pd

    bkt = F.lit(0)
    for i in range(EMB_LSH_BITS):
        bkt = bkt + F.when(
            F.element_at(F.col("embedding"), i + 1) > 0, F.lit(2**i)
        ).otherwise(F.lit(0))
    v = v.withColumn("bkt", bkt)
    # Per-bucket block count via a window count over bkt: the window's
    # hash-partition exchange on bkt is EXACTLY the distribution the cold
    # path's groupBy(bkt).applyInPandas requires, so Catalyst satisfies
    # the grouping from the same exchange and the occupancy check rides
    # the shuffle the matmul already pays (vs. a separate aggregate +
    # broadcast join, which cost a second scan and an extra exchange).
    from pyspark.sql import Window

    vb = v.withColumn(
        "nblk",
        F.ceil(
            F.count(F.lit(1)).over(Window.partitionBy("bkt"))
            / F.lit(EMB_LSH_TASK_ROWS)
        ).cast("int"),
    )

    empty = pd.DataFrame(
        {
            "vec_i": np.array([], dtype=np.int64),
            "vec_j": np.array([], dtype=np.int64),
            "cosine": np.array([], dtype=np.float64),
        }
    )

    # cold path: occupancy ≤ cap ⇒ the whole bucket fits one task; the
    # round-3 single-exchange plan (one shuffle of the cold vectors)
    cold = vb.filter(F.col("nblk") <= 1).drop("nblk")

    def bucket_pairs(pdf):
        if len(pdf) < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        return _matmul_hits(ids, mat, ids, mat, diagonal=True)

    cold_pairs = cold.groupBy("bkt").applyInPandas(
        bucket_pairs, schema="vec_i long, vec_j long, cosine double"
    )

    # hot path: over-cap buckets only — the triangle block-pair cogroup
    hot = vb.filter(F.col("nblk") > 1)
    left = hot.withColumn(
        "bi", F.pmod(F.hash("vec_id"), F.col("nblk"))
    ).withColumn("bj", F.explode(F.sequence(F.col("bi"), F.col("nblk") - 1)))
    # fresh exprIds on the right side — same Catalyst self-cogroup pruning
    # trap as dedup_embedding_pairs (see note there)
    right = (
        hot.select(
            F.col("bkt").alias("r_bkt"),
            F.col("vec_id").alias("r_vec_id"),
            F.col("embedding").alias("r_embedding"),
            F.col("nblk").alias("r_nblk"),
        )
        .withColumn("bj", F.pmod(F.hash("r_vec_id"), F.col("r_nblk")))
        .withColumn("bi", F.explode(F.sequence(F.lit(0), F.col("bj"))))
    )

    def bucket_block_pairs(key, l_pdf, r_pdf):
        if l_pdf.empty or r_pdf.empty:
            return empty
        return _matmul_hits(
            l_pdf["vec_id"].to_numpy(),
            np.stack(l_pdf["embedding"].to_numpy()).astype(np.float64),
            r_pdf["r_vec_id"].to_numpy(),
            np.stack(r_pdf["r_embedding"].to_numpy()).astype(np.float64),
            diagonal=key[1] == key[2],
        )

    hot_pairs = (
        left.groupBy("bkt", "bi", "bj")
        .cogroup(right.groupBy("r_bkt", "bi", "bj"))
        .applyInPandas(
            bucket_block_pairs, schema="vec_i long, vec_j long, cosine double"
        )
    )
    return cold_pairs.unionByName(hot_pairs)


def dedup_embedding_lsh_oracle() -> str:
    bits = " + ".join(
        f"(CASE WHEN e[{i + 1}] > 0 THEN {2**i} ELSE 0 END)"
        for i in range(EMB_LSH_BITS)
    )
    dot = "list_sum(list_transform(range(1, len(a.e)+1), i -> a.e[i] * b.e[i]))"
    na = "list_sum(list_transform(a.e, x -> x * x))"
    nb = "list_sum(list_transform(b.e, x -> x * x))"
    cos = f"{dot} / (sqrt({na}) * sqrt({nb}))"
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e, ({bits}) AS bkt FROM embeddings
    )
    SELECT a.vec_id AS vec_i, b.vec_id AS vec_j, {cos} AS cosine
    FROM v a JOIN v b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
    WHERE {cos} >= {COSINE_THRESHOLD}
    """


def dedup_embedding_pairs_oracle() -> str:
    dot = "list_sum(list_transform(range(1, len(a.e)+1), i -> a.e[i] * b.e[i]))"
    na = "list_sum(list_transform(a.e, x -> x * x))"
    nb = "list_sum(list_transform(b.e, x -> x * x))"
    cos = f"{dot} / (sqrt({na}) * sqrt({nb}))"
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT a.vec_id AS vec_i, b.vec_id AS vec_j, {cos} AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE {cos} >= {COSINE_THRESHOLD}
    """


@query
def dedup_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the sign-bit LSH embedding near-dup detector against the
    exact all-pairs ground truth — the embedding-side counterpart of
    ``dedup_minhash_recall``, closing the detector eval symmetry: every
    approximate DETECTOR (text MinHash banding, embedding sign-bit
    buckets) and every approximate SEARCH path (LSH / IVF / int8 kNN) now
    ships with a measured-recall twin. One row: |exact pairs|,
    |bucket-gated pairs|, overlap, recall = hit/exact — both detectors
    verify with exact cosine at the same threshold, so the LSH pair set
    is a subset of truth and recall isolates exactly the bucket-boundary
    loss (near-dup pairs whose sign patterns differ in some plane).

    Scale: the exact side is the labeled quadratic baseline
    (block-pair cogroup — distributed but O(n²) work); production runs
    this eval on a sampled slice exactly like ``dedup_minhash_recall_sampled``.
    """
    # both pair sets come from the session memo (the registry detectors'
    # own checkpointed detections) — the eval is one output-sized scan
    return _detector_recall_counts(
        dedup_embedding_pairs(spark, sf_dir),
        dedup_embedding_lsh(spark, sf_dir),
        "n_lsh_pairs",
    )


#: Vector budget for the SAMPLED embedding recall eval: the exact truth
#: is O(budget²) at ANY corpus size (the full eval's block-pair truth is
#: O(n²) — 73 s at sf10 and growing quadratically). Drawn by the shared
#: md5 gate at the finer sampling modulus so the draw stays below 1% of
#: the corpus past 100× the budget.
EMB_RECALL_SAMPLE_VECS = 1000
_EMB_SAMPLE_MOD = 100_000


@query
def dedup_embedding_recall_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dedup_embedding_recall`` on a deterministic fixed-budget slice
    of the vectors — the production eval mode (the
    ``dedup_minhash_recall_sampled`` contract, embedding side): ~
    EMB_RECALL_SAMPLE_VECS vectors via the shared md5 gate, exact
    block-pair truth and the sign-bit detector both restricted to the
    slice, so the quadratic truth stays CONSTANT across scaling decades
    while the detector side keeps its production plan shape. Same
    one-row (n_true_pairs, n_lsh_pairs, n_hit_pairs, recall) digest."""
    from komodo_data_spark.operators.pipeline_ops import _bucket_col

    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    gate = _bucket_col(F.col("vec_id"), mod=_EMB_SAMPLE_MOD) < (
        _recall_sample_buckets(n_vecs, EMB_RECALL_SAMPLE_VECS, _EMB_SAMPLE_MOD)
    )
    v = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .filter(gate)
        .select("vec_id", "embedding")
        # EAGER: truth and detector read the slice as concurrent stage
        # jobs; the lazy form recomputed the scan+filter per consumer
        .localCheckpoint(eager=True)
    )
    # blocks=2 (3 block-pair tasks): the slice is budget-fixed
    # (~EMB_RECALL_SAMPLE_VECS vectors at ANY corpus size), so one task's
    # matmul is ~1k×1k — the full-corpus task grid paid 36 Arrow tasks of
    # overhead for the same (value-identical) pair set
    truth = _embedding_pairs_from(v, blocks=2)
    return _detector_recall_counts(truth, _embedding_lsh_from(v), "n_lsh_pairs")


def _emb_pair_oracle(pairs_sql: str) -> str:
    """An embedding pair query renamed to the (doc_i, doc_j) pair shape
    that ``_pair_recall_oracle`` reads (the Spark tail takes the first
    two columns as the pair)."""
    return f"SELECT vec_i AS doc_i, vec_j AS doc_j FROM ({pairs_sql})"


def dedup_embedding_recall_sampled_oracle() -> str:
    return _pair_recall_oracle(
        _emb_pair_oracle(dedup_embedding_pairs_oracle()),
        _emb_pair_oracle(dedup_embedding_lsh_oracle()),
        "n_lsh_pairs",
        prelude=_sql_slice_cte(
            "embeddings", EMB_RECALL_SAMPLE_VECS, "vec_id", _EMB_SAMPLE_MOD
        ),
    )


def dedup_embedding_recall_oracle() -> str:
    return _pair_recall_oracle(
        _emb_pair_oracle(dedup_embedding_pairs_oracle()),
        _emb_pair_oracle(dedup_embedding_lsh_oracle()),
        "n_lsh_pairs",
    )


# --------------------------------------------------------------------------
# 5b. cross-document duplicated substring spans (ExactSubstr-style)
# --------------------------------------------------------------------------

#: Tokens per positional gram. A span is reported when >= SPAN_GRAM
#: consecutive tokens also occur (as the same gram) in another document —
#: the span-level dedup signal from "Deduplicating Training Data Makes
#: Language Models Better" (Lee et al., 2022), re-expressed relationally.
SPAN_GRAM = 5


def _positional_grams(toks, n: int):
    """Ordered (non-distinct) n-token grams — one per start position. Same
    zip-and-shift construction as :func:`text_features.shingles` minus the
    array_distinct, because HERE position identity matters."""
    m = F.size(toks) - (n - 1)
    zipped = F.slice(toks, 1, m)
    for k in range(1, n):
        zipped = F.zip_with(
            zipped, F.slice(toks, 1 + k, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(F.size(toks) >= n, zipped).otherwise(
        F.array().cast("array<string>")
    )


@query
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal per-document spans of tokens duplicated VERBATIM in some
    other document: every SPAN_GRAM-token window shared across >= 2 docs is
    a hit; overlapping/adjacent hit windows merge into one reported span
    (gaps-and-islands on the start positions).

    Unlike the pair-level dedup families above, the output is *positional*
    — (doc_id, span_start, span_end) token offsets a cleaning pass can cut,
    not just which docs match. The suffix-array of the original ExactSubstr
    is replaced by the relational equivalent: positional gram explode →
    duplicated-gram semi-join → per-doc interval merge.

    100 TB: two shuffles (gram-key aggregate; per-doc window). Gram
    cardinality ~ corpus token count — the aggregate is the big one, but it
    is map-side combinable and the key space is uniform (grams are near-
    unique by construction; duplicated grams ARE the signal, and a gram hot
    enough to skew a partition is boilerplate that dedup WANTS to find).
    The per-doc window shuffles only hit positions (ints), not text.
    """
    d = load_spread(spark, sf_dir, "documents").select(
        "doc_id", _positional_grams(tokens(), SPAN_GRAM).alias("grams")
    )
    g = (
        d.select("doc_id", F.posexplode_outer("grams").alias("p0", "gram"))
        .filter(F.col("gram").isNotNull())
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "gram")
    )
    # NB: g feeds two branches (dup aggregate + hits join). Measured: a
    # localCheckpoint here does NOT pay (1.86 s vs 1.73 s at sf0.1) — the
    # gram explode is cheap relative to its shuffles, unlike the k-means
    # fit in dedup_semantic where the same pattern saved 24 exchanges.
    # Lesson (c) applies to EXPENSIVE hub frames, not all hub frames.
    dup = (
        g.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    hits = g.join(dup, "gram").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    # new island when this window starts past the previous window's end+1
    # (pos > lag + SPAN_GRAM); first row: null comparison -> otherwise(0)
    isl = hits.withColumn(
        "brk",
        F.when(
            F.col("pos") > F.lag("pos").over(w) + SPAN_GRAM, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn("island", F.sum("brk").over(w))
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + SPAN_GRAM - 1).alias("span_end"),
            (F.max("pos") + SPAN_GRAM - F.min("pos")).alias("span_tokens"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .drop("island")
    )


def _substring_spans_cte() -> str:
    """Shared DuckDB CTE chain ending in ``spans(doc_id, span_start,
    span_end, ...)`` — used by the span report and the scrub oracle."""
    t = sql_tokens()
    k = SPAN_GRAM
    return f"""
    WITH toked AS (
      SELECT doc_id, {t} AS toks FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest([{{'pos': i, 'gram': array_to_string(toks[i:i+{k - 1}], ' ')}}
                     for i in range(1, greatest(len(toks) - {k - 1}, 0) + 1)],
                    recursive := true)
      FROM toked
    ), dup AS (
      SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ), hits AS (
      SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                             + {k}
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ), grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl
    ), spans AS (
      SELECT doc_id, min(pos) AS span_start, max(pos) + {k - 1} AS span_end,
             max(pos) + {k} - min(pos) AS span_tokens,
             count(*) AS n_dup_grams
      FROM grp GROUP BY doc_id, island
    )"""


def dedup_substring_spans_oracle() -> str:
    return f"""
    {_substring_spans_cte()}
    SELECT doc_id, span_start, span_end, span_tokens, n_dup_grams
    FROM spans
    """


@query
def dedup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the ExactSubstr loop: CUT the detected duplicated spans out of
    each document and report the per-doc cleaning result (tokens before /
    after, spans removed). Detection feeds a per-doc interval list
    (collect_list over the tiny span rows); excision is one codegen'd
    higher-order filter over the token array — position-indexed lambda, no
    Python. Docs without spans pass through via the left join + empty-array
    coalesce, so output cardinality == corpus cardinality.

    100 TB: the spans frame is violation-bounded (duplicated regions), so
    the join broadcast-hashes in practice; the excision itself is map-side.
    """
    spans = dedup_substring_spans(spark, sf_dir).groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    d = (
        load_spread(spark, sf_dir, "documents")
        .select("doc_id", tokens().alias("toks"))
        .join(spans, "doc_id", "left")
        .withColumn(
            "spans",
            F.coalesce(
                "spans",
                F.array().cast("array<struct<span_start:long,span_end:long>>"),
            ),
        )
    )
    kept = F.filter(
        F.col("toks"),
        lambda x, i: ~F.exists(
            F.col("spans"),
            lambda sp: (i + 1 >= sp["span_start"]) & (i + 1 <= sp["span_end"]),
        ),
    )
    return d.select(
        "doc_id",
        F.size("toks").alias("n_tokens_before"),
        F.size(kept).alias("n_tokens_after"),
        F.size("spans").alias("n_spans_removed"),
        F.md5(F.concat_ws(" ", kept)).alias("clean_fp"),
    )


def dedup_substring_scrub_oracle() -> str:
    t = sql_tokens()
    return f"""
    {_substring_spans_cte()},
    span_lists AS (
      SELECT doc_id,
             list({{'s': span_start, 'e': span_end}}) AS sps
      FROM spans GROUP BY doc_id
    ),
    scrubbed AS (
      SELECT d.doc_id, {t} AS toks,
             coalesce(sl.sps, []) AS sps
      FROM documents d LEFT JOIN span_lists sl ON sl.doc_id = d.doc_id
    )
    SELECT doc_id,
           len(toks) AS n_tokens_before,
           len([toks[i] for i in range(1, len(toks) + 1)
                if len(list_filter(sps, sp -> i >= sp.s AND i <= sp.e)) = 0])
             AS n_tokens_after,
           len(sps) AS n_spans_removed,
           md5(coalesce(array_to_string(
               [toks[i] for i in range(1, len(toks) + 1)
                if len(list_filter(sps, sp -> i >= sp.s AND i <= sp.e)) = 0],
               ' '), '')) AS clean_fp
    FROM scrubbed
    """


# --------------------------------------------------------------------------
# 6. fuzzy edit-distance matching (blocked levenshtein)
# --------------------------------------------------------------------------

FUZZY_PREFIX_TOKENS = 5  # the "title": first 5 tokens
FUZZY_MAX_DIST = 3
_FUZZY_NSEG = FUZZY_MAX_DIST + 1  # PassJoin partitions


def _passjoin_frames(d):
    """The PassJoin segment join's two sides over a (doc_id, title)
    frame: ``seg`` (the nseg partition segments of each title as the
    SHORTER of a candidate pair, keyed by (title length, segment index,
    segment substring)) and ``probe`` (every window of the matching
    segment length within ±k of its source position — the pigeonhole
    landing zone). Shared by the join and the candidate-volume estimate
    (operator guard + BENCH_SCALING evidence).

    The probe side is built as a 16-struct explode (l, i, start, n)
    followed by a sequence explode for the ±k shift — one flat 112-struct
    array blows janino's 64 KB generated-method limit and drops the whole
    stage to interpreted evaluation (measured: the fallback was barely
    faster than the quadratic blocking it replaces).

    Both struct arrays are ONE parsed ``F.expr`` string (r13): the
    Python-loop Column construction cost ~1.6 s of py4j round-trips per
    invocation (cProfile-evidenced, the round-12 SimHash finding again);
    the SQL text below is term-by-term the same arithmetic — int `/`
    divides as double before FLOOR, `%` stays int — so the exploded
    structs are value-identical (pinned by the fuzzy oracles)."""
    k, nseg = FUZZY_MAX_DIST, _FUZZY_NSEG

    def layout_sql(l: str, i: int) -> tuple[str, str]:
        # length-l layout: the first (nseg - l%nseg) segments have
        # floor(l/nseg) chars, the rest one more
        b = f"CAST(FLOOR(({l}) / {nseg}) AS INT)"
        r = f"CAST(({l}) % {nseg} AS INT)"
        seglen = f"({b} + (CASE WHEN {i} >= {nseg} - {r} THEN 1 ELSE 0 END))"
        start = f"({i} * {b} + GREATEST(0, {i} - ({nseg} - {r})))"
        return start, seglen

    def struct_sql(l: str, i: int, qname: str) -> str:
        q, n = layout_sql(l, i)
        return (
            f"named_struct('l', {l}, 'i', {i}, '{qname}', {q}, 'n', {n})"
        )

    seg_structs = ", ".join(
        struct_sql("length(title)", i, "q") for i in range(nseg)
    )
    seg = (
        d.select(
            "doc_id",
            "title",
            F.expr(f"explode(array({seg_structs}))").alias("kk"),
        )
        .select(
            "doc_id",
            "title",
            "kk.l",
            "kk.i",
            F.expr("substring(title, kk.q + 1, kk.n)").alias("s"),
        )
    )
    probe_structs = ", ".join(
        struct_sql(f"(length(title) - {loff})", i, "q0")
        for loff in range(0, k + 1)
        for i in range(nseg)
    )
    probe = (
        d.select(
            "doc_id",
            "title",
            F.expr(f"explode(array({probe_structs}))").alias("kk"),
        )
        .select(
            "doc_id",
            "title",
            "kk",
            F.explode(F.sequence(F.lit(-k), F.lit(k))).alias("delta"),
        )
        .select(
            "doc_id",
            "title",
            F.col("kk.l").alias("l"),
            F.col("kk.i").alias("i"),
            (F.col("kk.q0") + F.col("delta")).alias("q"),
            F.col("kk.n").alias("n"),
        )
        .filter(
            (F.col("l") >= 0)
            & (F.col("q") >= 0)
            & (F.col("q") + F.col("n") <= F.length("title"))
        )
        .select(
            "doc_id",
            "title",
            "l",
            "i",
            F.expr("substring(title, q + 1, n)").alias("s"),
        )
    )
    return seg, probe


def fuzzy_prefix_candidate_volume(spark: SparkSession, sf_dir: str) -> int:
    """Σ_key c_seg·c_probe for the PassJoin segment join — the number the
    operator guard compares against FUZZY_CANDIDATE_BUDGET, exposed for
    BENCH_SCALING's saturation-evidence block."""
    from komodo_data_spark.sources.tables import load_spread

    d = load_spread(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            " ", F.slice(tokens(), 1, FUZZY_PREFIX_TOKENS)
        ).alias("title"),
    )
    seg, probe = _passjoin_frames(d)
    return join_candidate_volume(seg, ["l", "i", "s"], probe)


@shared_fit("fuzzy_titles")
def _fuzzy_titles_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, title) frame every PassJoin consumer explodes, ONE
    scan+tokenize per session, shared by the exact detector, the capped
    twin, and the recall eval."""
    return load_spread(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(" ", F.slice(tokens(), 1, FUZZY_PREFIX_TOKENS)).alias(
            "title"
        ),
    )


@shared_fit("fuzzy_exact_pairs")
def _fuzzy_exact_pairs_shared(
    spark: SparkSession, sf_dir: str, budget: int | None
) -> DataFrame:
    """The exact PassJoin pair list (doc_i, doc_j, edit_dist), ONE
    detection per session — read by ``dedup_fuzzy_prefix`` and as the
    truth side of ``dedup_fuzzy_capped_recall`` (the eval scores the
    detection the registry already ran; it does not re-detect). The
    candidate-volume guard runs inside the fit with the caller's budget,
    so a trip raises without memoizing anything."""
    seg, probe = _passjoin_frames(_fuzzy_titles_shared(spark, sf_dir))
    if budget is not None:
        est = join_candidate_volume(seg, ["l", "i", "s"], probe)
        if est > budget:
            raise CandidateVolumeError(
                "dedup_fuzzy_prefix",
                est,
                budget,
                "title space is adversarially dense (one template within "
                "the edit threshold); dedup exact titles first or raise "
                "the budget",
            )
    # verify FIRST, deduplicate AFTER — see dedup_fuzzy_prefix's note
    return (
        seg.alias("a")
        .join(probe.alias("b"), ["l", "i", "s"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_i"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_j"),
            F.levenshtein(
                F.col("a.title"), F.col("b.title"), FUZZY_MAX_DIST
            ).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") >= 0)
        .distinct()
    )


@query
def dedup_fuzzy_prefix(
    spark: SparkSession,
    sf_dir: str,
    budget: int | None = FUZZY_CANDIDATE_BUDGET,
) -> DataFrame:
    """Fuzzy duplicate pairs by edit distance over the document "title"
    (first 5 tokens): ALL pairs whose titles are within levenshtein <= 3 —
    the record-linkage modality (typo'd titles, OCR noise) that token-set
    methods (Jaccard/MinHash) miss entirely. Exact semantics: the PassJoin
    candidate scheme below is COMPLETE for the threshold, unlike a
    heuristic blocking key.

    Scale design — PassJoin partitioning (Li, Deng & Feng, ICDE 2011):
    the previous (length-bucket, first-char) blocking key had BOUNDED
    cardinality, so at 10x the corpus each block grew 10x and the
    within-block pair count 100x — caught by the sf0.1→sf1 decade of
    BENCH_SCALING (1.3 s → 98 s) and replaced. Now the shorter title of a
    candidate pair is partitioned into k+1 = 4 segments; by pigeonhole,
    ed <= k implies the longer title contains at least one segment
    VERBATIM, within ±k of its source position. So the seg side emits 4
    (len, seg_idx, substring) keys per row, the probe side emits <=
    4*4*(2k+1) = 112 position-shifted window keys per row, and candidates
    are an equi-join on a high-entropy key whose multiplicity tracks true
    near-dup density instead of corpus size. Survivors are verified with
    the THRESHOLDED 3-arg levenshtein (banded DP, early exit, -1 above
    the bound).

    VALIDITY BOUNDARY: "high-entropy key" assumes title diversity. On an
    adversarial-density corpus (every title within distance k of every
    other — one template with tiny perturbations) every row lands in the
    same few (l, i, s) neighborhood keys and the segment join degrades to
    ~4·(2k+1)·n² rows. When ``budget`` (``FUZZY_CANDIDATE_BUDGET``) is
    set, the join's EXACT output volume Σ_key c_seg·c_probe is measured
    first (:func:`join_candidate_volume` — two key histograms over the
    frames this plan already explodes; the title frame is checkpointed
    so the scan+tokenize is paid once) and the operator refuses with
    :class:`CandidateVolumeError` instead of being discovered by a full
    shuffle disk — closing the guard-uniformity gap round 9 named
    (What's missing #2).

    Verify-first note (the join lives in ``_fuzzy_exact_pairs_shared``):
    a candidate pair surfaces once per shared segment key, but the
    thresholded levenshtein (banded DP, early exit, -1 above the bound)
    costs tens of ns on a ~30-char title — far cheaper than shuffling
    the raw candidate stream through a distinct. Running it as the join
    residual keeps the whole candidate pass in one stage, and the
    distinct then shuffles only TRUE pairs (output-sized, not
    candidate-sized). The detection is read through the session memo
    keyed by (sf_dir, budget), so the recall eval and repeated
    invocations reuse one checkpointed pair list; load_spread inside the
    shared title fit spreads the window-explode and segment join across
    tasks (a single-row-group scan would run them on one).
    """
    return _fuzzy_exact_pairs_shared(spark, sf_dir, budget)


def dedup_fuzzy_prefix_oracle() -> str:
    """Semantic oracle: because the PassJoin candidates are COMPLETE for
    the threshold, the oracle is the DEFINITION — a length-banded
    levenshtein join (ed <= k forces |len diff| <= k) — not a mirror of
    the candidate scheme. Either side diverging from "all pairs within
    edit distance 3" breaks the hash match."""
    t = sql_tokens()
    return f"""
    WITH d AS (
      SELECT doc_id,
        array_to_string(({t})[1:{FUZZY_PREFIX_TOKENS}], ' ') AS title
      FROM documents
    )
    SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j,
           levenshtein(a.title, b.title) AS edit_dist
    FROM d a JOIN d b
      ON a.doc_id < b.doc_id
     AND abs(length(a.title) - length(b.title)) <= {FUZZY_MAX_DIST}
    WHERE levenshtein(a.title, b.title) <= {FUZZY_MAX_DIST}
    """


#: Per-(l, i, s) key occupancy cap (each side) for the degraded-but-
#: running PassJoin twin. With both sides capped, Σ c_seg·c_probe over
#: kept keys ≤ cap·Σc_seg = cap·4n — linear at any corpus size (the
#: exact form's sf10 estimate on this corpus is 4.4e9 > the 2e9 budget).
FUZZY_KEY_CAP = 64


@query
def dedup_fuzzy_prefix_capped(
    spark: SparkSession, sf_dir: str, key_cap: int = FUZZY_KEY_CAP
) -> DataFrame:
    """Degraded-but-running twin of :func:`dedup_fuzzy_prefix` (round-10
    verdict ask #2): PassJoin segment keys whose occupancy exceeds
    ``key_cap`` on EITHER side are dropped before the candidate join,
    bounding candidates at cap·4n (linear) instead of the Σ c_seg·c_probe
    that trips the exact form's guard at sf10 — this form runs every
    decade and returns the high-confidence subset
    (``dedup_ngram_pairs_capped`` semantics).

    What the cap costs: pairs whose EVERY shared segment key is hot —
    mass-duplicated title templates (which the cheap exact-title dedup
    pass catches first in a real pipeline) and ultra-common short-title
    fragments. Survivors are verified with the exact thresholded
    levenshtein, so precision is unchanged and the output is a SUBSET of
    the exact detector's; ``dedup_fuzzy_capped_recall`` measures the gap.
    The detection is read through the session memo keyed by
    (sf_dir, key_cap) — the recall eval, the cap-sweep harness, and
    repeated invocations reuse one checkpointed pair list per cap, and
    the title frame underneath is shared with the exact detector
    (``_fuzzy_titles_shared``).
    """
    return _fuzzy_capped_pairs_shared(spark, sf_dir, key_cap)


@shared_fit("fuzzy_capped_pairs")
def _fuzzy_capped_pairs_shared(
    spark: SparkSession, sf_dir: str, key_cap: int
) -> DataFrame:
    """The capped PassJoin pair list, ONE detection per session per cap —
    read by ``dedup_fuzzy_prefix_capped`` and as the detector side of
    ``dedup_fuzzy_capped_recall``."""
    seg, probe = _passjoin_frames(_fuzzy_titles_shared(spark, sf_dir))
    keys = ["l", "i", "s"]
    u = seg.select(*keys, F.lit(1).alias("na"), F.lit(0).alias("nb")).unionByName(
        probe.select(*keys, F.lit(0).alias("na"), F.lit(1).alias("nb"))
    )
    ok = (
        u.groupBy(*keys)
        .agg(F.sum("na").alias("ca"), F.sum("nb").alias("cb"))
        .filter((F.col("ca") <= key_cap) & (F.col("cb") <= key_cap))
        .select(*keys)
    )
    seg_r = seg.join(ok, keys, "left_semi")
    probe_r = probe.join(ok, keys, "left_semi")
    return (
        seg_r.alias("a")
        .join(probe_r.alias("b"), keys)
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_i"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_j"),
            F.levenshtein(
                F.col("a.title"), F.col("b.title"), FUZZY_MAX_DIST
            ).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") >= 0)
        .distinct()
    )


def dedup_fuzzy_prefix_capped_oracle(key_cap: int = FUZZY_KEY_CAP) -> str:
    """Unlike the exact form (whose oracle is the levenshtein DEFINITION
    — the candidate scheme is complete so the scheme is invisible), the
    cap is PART of the semantics, so this oracle mirrors the PassJoin
    key construction: same segment layout arithmetic, same ±k probe
    windows, same both-sides occupancy filter, then the exact verify."""
    t = sql_tokens()
    nseg, k = _FUZZY_NSEG, FUZZY_MAX_DIST
    return f"""
    WITH d AS (
      SELECT doc_id,
        array_to_string(({t})[1:{FUZZY_PREFIX_TOKENS}], ' ') AS title
      FROM documents
    ),
    seg AS (
      SELECT doc_id, title, length(title) AS l, i,
        substr(title,
          (i * (length(title) // {nseg})
             + greatest(0, i - ({nseg} - length(title) % {nseg})))::INT + 1,
          ((length(title) // {nseg})
             + CASE WHEN i >= {nseg} - length(title) % {nseg}
                    THEN 1 ELSE 0 END)::INT
        ) AS s
      FROM d, unnest(range(0, {nseg})) AS ti(i)
    ),
    probe AS (
      SELECT doc_id, title, l, i, substr(title, q::INT + 1, n::INT) AS s
      FROM (
        SELECT doc_id, title, length(title) - loff AS l, i,
               (i * ((length(title) - loff) // {nseg})
                  + greatest(0, i - ({nseg} - (length(title) - loff)
                                              % {nseg}))
                  + delta) AS q,
               ((length(title) - loff) // {nseg}
                  + CASE WHEN i >= {nseg} - (length(title) - loff) % {nseg}
                         THEN 1 ELSE 0 END) AS n
        FROM d,
             unnest(range(0, {k + 1})) AS tl(loff),
             unnest(range(0, {nseg})) AS ti(i),
             unnest(range(-{k}, {k + 1})) AS td(delta)
      )
      WHERE l >= 0 AND q >= 0 AND q + n <= length(title)
    ),
    kc AS (
      SELECT l, i, s,
             sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cb
      FROM (SELECT l, i, s, 0 AS side FROM seg
            UNION ALL SELECT l, i, s, 1 AS side FROM probe)
      GROUP BY l, i, s
    ),
    ok AS (SELECT l, i, s FROM kc
           WHERE ca <= {key_cap} AND cb <= {key_cap}),
    cand AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_i,
                      greatest(a.doc_id, b.doc_id) AS doc_j
      FROM (SELECT seg.* FROM seg SEMI JOIN ok
              ON seg.l = ok.l AND seg.i = ok.i AND seg.s = ok.s) a
      JOIN (SELECT probe.* FROM probe SEMI JOIN ok
              ON probe.l = ok.l AND probe.i = ok.i AND probe.s = ok.s) b
        ON a.l = b.l AND a.i = b.i AND a.s = b.s
       AND a.doc_id <> b.doc_id
    )
    SELECT DISTINCT doc_i, doc_j,
           levenshtein(da.title, db.title) AS edit_dist
    FROM cand
    JOIN d da ON da.doc_id = doc_i
    JOIN d db ON db.doc_id = doc_j
    WHERE levenshtein(da.title, db.title) <= {FUZZY_MAX_DIST}
    """


@query
def dedup_fuzzy_capped_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the PassJoin key cap costs, measured: the capped detector's
    pairs are a SUBSET of the exact detector's (same levenshtein verify,
    fewer candidate keys), so recall = |capped| / |exact| prices the cap
    directly. An EVAL op: it runs the exact form too, so it lives in the
    decades where the exact form still runs (<= sf1 on this corpus); the
    capped DETECTOR alone is the sf10 path. The cap-sweep artifact
    (scripts/recall_vs_cap.py → RECALL_VS_CAP.json) extends this single
    point to the recall-vs-budget curve.

    Cost: both pair sets are read through the session memo
    (``_fuzzy_exact_pairs_shared`` / ``_fuzzy_capped_pairs_shared``,
    which share one title scan/checkpoint underneath) — the eval scores
    the detections the registry queries already ran instead of
    re-running the explode and both joins itself, and the recall counts
    are one output-sized scan of the checkpointed pair lists. The
    exact side's candidate-volume guard runs inside the shared fit, so
    this eval inherits the registry refusal semantics (it previously
    skipped the guard; anywhere the guard trips, the exact join
    underneath was never runnable anyway)."""
    return _detector_recall_counts(
        _fuzzy_exact_pairs_shared(spark, sf_dir, FUZZY_CANDIDATE_BUDGET),
        _fuzzy_capped_pairs_shared(spark, sf_dir, FUZZY_KEY_CAP),
        "n_capped_pairs",
    )


def dedup_fuzzy_capped_recall_oracle() -> str:
    return _pair_recall_oracle(
        dedup_fuzzy_prefix_oracle(),
        dedup_fuzzy_prefix_capped_oracle(),
        "n_capped_pairs",
    )


# --------------------------------------------------------------------------
# 7. cross-source duplication audit
# --------------------------------------------------------------------------


@query
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which SOURCES duplicate each other: near-dup pairs (MinHash-verified)
    rolled up by the unordered source pair, with an average similarity per
    cell. The audit that decides which crawl dumps to drop wholesale before
    paying per-document dedup on them — at 100 TB, killing a 90%-duplicate
    source at the manifest level is free; deduping it row by row is not.
    Cost: the pair list is violation-bounded; the doc→source join
    broadcast-hashes the (tiny) pair side against the narrow projection.
    """
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("source").alias("src")
    )
    enriched = _pair_join(minhash_pairs_shared(spark, sf_dir), src).select(
        F.least("src_i", "src_j").alias("source_a"),
        F.greatest("src_i", "src_j").alias("source_b"),
        "jaccard",
    )
    return enriched.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.avg("jaccard").alias("avg_jaccard"),
    )


def dedup_source_overlap_oracle() -> str:
    return f"""
    WITH pairs AS ({dedup_minhash_lsh_oracle()}),
    enriched AS (
      SELECT least(a.source, b.source) AS source_a,
             greatest(a.source, b.source) AS source_b,
             p.jaccard
      FROM pairs p
      JOIN documents a ON a.doc_id = p.doc_i
      JOIN documents b ON b.doc_id = p.doc_j
    )
    SELECT source_a, source_b, count(*) AS n_pairs,
           avg(jaccard) AS avg_jaccard
    FROM enriched GROUP BY source_a, source_b
    """


# --------------------------------------------------------------------------
# 10. corpus-level repeated-block scrub (C4-style line dedup)
# --------------------------------------------------------------------------

#: Non-overlapping block width (tokens). C4 deduplicates at the "line"
#: granularity; this corpus has no newlines, so the line stand-in is a
#: fixed-width token block — same operator shape, same keep-one rule.
BLOCK_TOKENS = 8

#: Packs (doc_id, pos) into one orderable BIGINT so the first-occurrence
#: keeper is a single min() in the same aggregate as the count.
#: pos < POS_BASE always (docs are far shorter than 2^20 blocks);
#: doc_id * 2^20 stays well inside BIGINT.
POS_BASE = 1 << 20


def blocked_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, n_blocks, blocks: array<struct<pos,blk>>, tail) per doc —
    the shared block decomposition for the batch scrub and the streaming
    incremental scrub (one code path, no drift). Row-local, no shuffle."""
    return (
        docs.select("doc_id", tokens().alias("toks"))
        .withColumn("n_blocks", F.floor(F.size("toks") / BLOCK_TOKENS))
        .withColumn(
            "blocks",
            # NB: sequence(0, -1) yields the DESCENDING [0, -1] in Spark,
            # not an empty array — guard the zero-block docs explicitly.
            F.when(
                F.col("n_blocks") >= 1,
                F.transform(
                    F.sequence(F.lit(0), F.col("n_blocks") - 1),
                    lambda p: F.struct(
                        p.alias("pos"),
                        F.array_join(
                            F.slice(
                                F.col("toks"), p * BLOCK_TOKENS + 1, BLOCK_TOKENS
                            ),
                            " ",
                        ).alias("blk"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<pos:bigint,blk:string>>")
            ),
        )
        .withColumn(
            "tail",
            F.array_join(
                F.slice(
                    F.col("toks"),
                    F.col("n_blocks") * BLOCK_TOKENS + 1,
                    F.greatest(
                        F.size("toks") - F.col("n_blocks") * BLOCK_TOKENS,
                        F.lit(0),
                    ),
                ),
                " ",
            ),
        )
        .drop("toks")
    )


def block_occurrences(blocked: DataFrame) -> DataFrame:
    """Exploded (doc_id, pos, blk) occurrence rows from blocked_docs."""
    return blocked.select("doc_id", F.explode("blocks").alias("b")).select(
        "doc_id",
        F.col("b.pos").alias("pos"),
        F.col("b.blk").alias("blk"),
    )


def scrub_blocks(blocked: DataFrame, dup: DataFrame) -> DataFrame:
    """Reassemble each doc keeping only blocks that are NOT scrubbed by
    ``dup`` (rows (blk, keeper): an occurrence survives iff its block has
    no dup entry or its packed (doc_id, pos) key equals the keeper; a
    keeper of -1 scrubs every occurrence).

    Scale note (third-decade catch, BENCH_SCALING sf1→sf10): the original
    form folded dup to a one-row map<blk, keeper> and probed it per block
    with element_at — but Spark map lookup is a LINEAR scan, so total cost
    was |dup| × |blocks| (both grow with the corpus → quadratic by data;
    measured 10.3 s → 220 s over a 10× step). Now the per-block probe is a
    broadcast HASH join on the NARROW occurrence rows, and only the
    per-doc list of removed positions — sized by the doc's own duplicated
    spans, not the corpus — returns to the doc row for a row-local filter.
    The wide text column still never shuffles; if the removal lists ever
    outgrew a broadcast (corpus-scale mirroring), the same frame joins by
    shuffle on doc_id with identical semantics."""
    removed = (
        block_occurrences(blocked)
        .join(F.broadcast(dup), "blk")
        .filter(F.col("doc_id") * POS_BASE + F.col("pos") != F.col("keeper"))
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("removed_pos"))
    )
    return (
        blocked.join(F.broadcast(removed), "doc_id", "left")
        .withColumn(
            "kept",
            F.when(F.col("removed_pos").isNull(), F.col("blocks")).otherwise(
                F.filter(
                    "blocks",
                    lambda b: ~F.array_contains(
                        F.col("removed_pos"), b["pos"]
                    ),
                )
            ),
        )
        .select(
            "doc_id",
            "n_blocks",
            (F.col("n_blocks") - F.size("kept")).alias("n_removed"),
            F.trim(
                F.concat_ws(
                    " ",
                    F.array_join(
                        F.transform("kept", lambda b: b["blk"]), " "
                    ),
                    "tail",
                )
            ).alias("clean_text"),
        )
    )


@query
def dedup_repeated_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level block dedup (the C4 "three-sentence span" rule, cf. the
    public C4 paper appendix): any fixed-width token block that occurs more
    than once ACROSS THE WHOLE CORPUS is kept only at its first occurrence
    (lexicographic (doc_id, position)) and scrubbed everywhere else; each
    document is reassembled from its surviving blocks plus its sub-block
    tail. Returns per-doc block counts and a fingerprint of the cleaned
    text.

    Scale design — the key point is that document REASSEMBLY is row-local,
    not a corpus shuffle:
    - the only corpus-scale shuffle is the block-frequency aggregate
      (map-side combined, keyed by block hash — high cardinality, no skew);
      the first-occurrence keeper rides the same aggregate as
      min(doc_id * POS_BASE + pos), one pass, engine-portable.
    - blocks repeated >= 2× are a tiny fraction of the corpus (boilerplate
      + mirror spans); they fold to a one-row map<block, keeper_key> that
      is **crossJoin-broadcast** to every doc row, and each doc filters its
      own block array with a higher-order lambda — zero exchange on the
      document side, full whole-stage codegen. (If the dup set ever
      outgrew a broadcast, the fallback is the explode + groupBy(doc_id)
      reassembly — same semantics, one extra corpus shuffle.)
    """
    blocked = blocked_docs(load_spread(spark, sf_dir, "documents"))
    dup = (
        block_occurrences(blocked)
        .groupBy("blk")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.col("doc_id") * POS_BASE + F.col("pos")).alias("keeper"),
        )
        .filter(F.col("n") >= 2)
        .select("blk", "keeper")
    )
    return scrub_blocks(blocked, dup).select(
        "doc_id",
        "n_blocks",
        "n_removed",
        F.length("clean_text").alias("clean_len"),
        F.md5("clean_text").alias("clean_fp"),
    ).orderBy("doc_id")


def dedup_repeated_blocks_oracle() -> str:
    t = sql_tokens()
    b, pb = BLOCK_TOKENS, 1 << 20
    return f"""
    WITH d AS (SELECT doc_id, {t} AS toks FROM documents),
    dd AS (
      SELECT doc_id, toks, len(toks) // {b} AS n_blocks,
             trim(array_to_string(toks[(len(toks) // {b}) * {b} + 1 : len(toks)], ' ')) AS tail
      FROM d
    ),
    occ AS (
      SELECT doc_id, p.pos, array_to_string(toks[p.pos * {b} + 1 : p.pos * {b} + {b}], ' ') AS blk
      FROM dd, unnest(range(0, n_blocks)) AS p(pos)
    ),
    dup AS (
      SELECT blk, min(doc_id * {pb} + pos) AS keeper
      FROM occ GROUP BY blk HAVING count(*) >= 2
    ),
    kept AS (
      SELECT o.doc_id, o.pos, o.blk
      FROM occ o LEFT JOIN dup USING (blk)
      WHERE dup.blk IS NULL OR o.doc_id * {pb} + o.pos = dup.keeper
    ),
    re AS (
      SELECT doc_id, count(*) AS kept_n,
             string_agg(blk, ' ' ORDER BY pos) AS body
      FROM kept GROUP BY doc_id
    )
    SELECT dd.doc_id, dd.n_blocks,
           dd.n_blocks - coalesce(re.kept_n, 0) AS n_removed,
           length(trim(concat(coalesce(re.body, ''), ' ', dd.tail))) AS clean_len,
           md5(trim(concat(coalesce(re.body, ''), ' ', dd.tail))) AS clean_fp
    FROM dd LEFT JOIN re USING (doc_id)
    ORDER BY dd.doc_id
    """


# --------------------------------------------------------------------------
# MinHash-LSH recall evaluation (vs exact n-gram Jaccard ground truth)
# --------------------------------------------------------------------------


@query
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH near-dup detector against exact n-gram
    Jaccard ground truth — the text-dedup counterpart of
    ``knn_lsh_recall`` / ``knn_quantized_recall`` on the embedding side,
    completing the evaluation ladder: every approximate path in the engine
    ships with a measured-recall twin.

    Output is ONE row: |true pairs| (exact Jaccard >= threshold, from the
    labeled all-pairs baseline), |LSH-verified pairs|, their overlap, and
    recall = hit/true. Both detectors verify with exact Jaccard at the
    same threshold, so LSH pairs are a subset of true pairs and recall
    isolates exactly the banding loss (pairs whose signatures never
    collided in any band).

    Scale: ground truth is inherently quadratic — production runs this
    eval on a sampled slice (``dedup_minhash_recall_sampled``, the
    executable form of that mode), never the full corpus; the LSH side is
    the linear production path.

    Both sides are read through the session memo: the truth IS
    ``dedup_ngram_pairs``' detection (a shared fit) and
    the detector IS ``dedup_minhash_lsh``'s (``minhash_pairs_shared``) —
    both verify with exact Jaccard at the same threshold, so the pair
    sets are identical to re-detections (which is exactly what the
    composed oracle runs) and the eval itself is one output-sized scan
    of the checkpointed pair lists.
    """
    return _detector_recall_counts(
        dedup_ngram_pairs(spark, sf_dir),
        minhash_pairs_shared(spark, sf_dir),
        "n_lsh_pairs",
    )


#: Sampled recall eval's slice budget in DOCUMENTS (not a fraction): the
#: doc_id hash gate shared with sample_hash_split admits ~this many docs
#: at any corpus size (see _recall_sample_buckets). 2500 keeps the
#: correctness scales meaningful — at sf0.01 (500 docs) the gate opens to
#: the full corpus, at sf0.1 it reproduces the old 50-bucket slice — and
#: caps the eval's quadratic truth at a constant past sf0.1.
RECALL_SAMPLE_TARGET_DOCS = 2500

#: Partition width of the FIXED-SIZE eval-slice postings checkpoints
#: (r13, the r12 `blocks=2` fix generalized per the round-12 verdict):
#: the slice is a constant ~RECALL_SAMPLE_TARGET_DOCS documents at ANY
#: corpus scale, but its postings frame inherited the CORPUS scan width
#: (32 tasks of ~4k rows at sf0.1), so every downstream eval stage
#: launched corpus-width waves over slice-sized data — the 8-vs-32-core
#: bench ratios below 1 (recall twins FASTER on fewer cores) were
#: exactly this over-parallelism. O(slice) tasks is the scale-correct
#: width for a fixed-size frame; the gram-extraction stages above the
#: repartition keep the full scan parallelism.
EVAL_SLICE_PARTITIONS = 4


def _recall_sample_buckets(
    n_rows: int, target: int = RECALL_SAMPLE_TARGET_DOCS, mod: int = 100
) -> int:
    """Bucket count (of the md5 % ``mod`` gate) sizing a recall eval's
    slice to ~``target`` rows REGARDLESS of table size:
    floor(target·mod / n), clamped to [1, mod] — THE slice-gate arithmetic
    of every sampled recall twin (``_sql_sample_gate`` is its SQL twin).
    A fixed bucket count was the third-decade catch (BENCH_SCALING
    sf1→sf10): 50 buckets is a fixed FRACTION, so the slice grew linearly
    and its all-pairs truth quadratically (5.8 s → 403 s over a 10× step).
    With a fixed budget the eval is O(target²) at any corpus size; the
    % 100 granularity floors the slice at 1%, so the vector evals, whose
    budgets are far below 1% of a large corpus, pass a finer ``mod``.
    ``target`` defaults to the shared text budget; evals with denser
    feature sets (the media gram truth) pass their own."""
    return max(1, min(mod, target * mod // max(n_rows, 1)))


def _sql_sample_gate(table: str, target: int, key: str, mod: int) -> str:
    """DuckDB twin of the slice gate ``_bucket_col(key, mod) <
    _recall_sample_buckets(n, target, mod)``, with n = count(*) of
    ``table``: the same integer arithmetic (floor via //, clamp to
    [1, mod]), so a Spark slice and its oracle can never disagree."""
    from komodo_data_spark.operators.pipeline_ops import _sql_bucket

    return (
        f"{_sql_bucket(key, mod=mod)} < greatest(1, least({mod}, "
        f"{target} * {mod} // greatest((SELECT count(*) FROM {table}), 1)))"
    )


def _sql_slice_cte(
    table: str = "documents",
    target: int = RECALL_SAMPLE_TARGET_DOCS,
    key: str = "doc_id",
    mod: int = 100,
) -> str:
    """CTE named ``table`` that shadows the registered view with its gated
    slice for every CTE and subquery after it; the inner reference is
    schema-qualified (main.<table>) because an unqualified self-name would
    read as a circular CTE."""
    gate = _sql_sample_gate(f"main.{table}", target, key, mod)
    return f"{table} AS (SELECT * FROM main.{table} WHERE {gate})"


@query
def dedup_minhash_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_minhash_recall`` restricted to a deterministic hash-bucket
    slice of the corpus — the PRODUCTION mode of the recall eval. The
    quadratic exact-Jaccard ground truth runs only on the slice, so eval
    cost is bounded by the slice size while the measured banding loss
    tracks the full-corpus figure (pinned within tolerance by
    ``tests/test_extensions.py``); the gate is ``sample_hash_split``'s
    bucket predicate (md5(doc_id) % 100) with the bucket count sized by
    :func:`_recall_sample_buckets` from one column-pruned count, so the
    slice doc budget — and the eval's quadratic term — stays constant as
    the corpus grows, stable across engines and retries; the oracle
    applies the IDENTICAL gate (same integer arithmetic in SQL).

    The sliced postings and the exact-Jaccard truth are read through the
    session memo (``_recall_slice_shared``): the three text recall twins
    (this one, ``dedup_simhash_recall``, ``dedup_minhash_oph_recall``)
    score DIFFERENT detectors against the SAME slice and truth, which
    previously re-derived both per query."""
    posts, truth = _recall_slice_shared(spark, sf_dir)
    det = _banded_pairs(posts, bands_of(posts))
    return _detector_recall_counts(truth, det, "n_lsh_pairs")


@shared_fit("recall_slice")
def _recall_slice_shared(
    spark: SparkSession,
    sf_dir: str,
    target: int = RECALL_SAMPLE_TARGET_DOCS,
) -> tuple:
    """(sliced postings, exact-Jaccard truth pairs) for the deterministic
    hash-bucket eval slice, ONE derivation per session: every text
    recall twin gates the same ~``target``-doc slice and self-joins the
    same quadratic ground truth — only the DETECTOR under evaluation
    differs."""
    from komodo_data_spark.operators.pipeline_ops import _bucket_col

    n_docs = load_table(spark, sf_dir, "documents").count()
    # The gate is on doc_id only, so it commutes with shingling: Catalyst
    # pushes it below the explode to the scan side.
    posts = (
        _doc_postings(spark, sf_dir)
        .filter(_bucket_col() < _recall_sample_buckets(n_docs, target))
        # the slice is budget-fixed: O(slice) tasks downstream, not
        # corpus scan width (see EVAL_SLICE_PARTITIONS)
        .repartition(EVAL_SLICE_PARTITIONS)
        # read by the truth self-join here and by every detector
        .localCheckpoint(eager=True)
    )
    return posts, _truth_pairs_from(posts)


def _detector_recall_counts(
    truth: DataFrame, det: DataFrame, det_col: str
) -> DataFrame:
    """The one-row recall frame every pair-recall twin shares:
    (n_true_pairs, ``det_col``, n_hit_pairs, recall = hit/true, NULL on an
    empty truth). The first two columns of ``truth`` and ``det`` are the
    pair (doc_i, doc_j or vec_i, vec_j).

    One pass over each side: the two pair sets union with a (t, d) side
    tag, one aggregate per pair sums the tags, and one global aggregate
    gives |truth| = Σt, |det| = Σd and |truth ⋉ det| = Σ t where d > 0 —
    the counts ``count()`` and a semi-join give, duplicated rows
    included. Reading each side once is what lets the twins build their
    pair sets lazily: no cache, no CacheManager entry."""

    def tagged(pairs: DataFrame, t: int) -> DataFrame:
        i, j = pairs.columns[:2]
        return pairs.select(
            F.col(i).alias("doc_i"),
            F.col(j).alias("doc_j"),
            F.lit(t).alias("t"),
            F.lit(1 - t).alias("d"),
        )

    per_pair = (
        tagged(truth, 1)
        .unionByName(tagged(det, 0))
        .groupBy("doc_i", "doc_j")
        .agg(F.sum("t").alias("t"), F.sum("d").alias("d"))
    )
    total = lambda c: F.coalesce(F.sum(c), F.lit(0))  # noqa: E731
    return per_pair.agg(
        total("t").alias("n_true_pairs"),
        total("d").alias(det_col),
        total(F.when(F.col("d") > 0, F.col("t"))).alias("n_hit_pairs"),
    ).select(
        "n_true_pairs",
        det_col,
        "n_hit_pairs",
        F.when(
            F.col("n_true_pairs") > 0,
            F.col("n_hit_pairs").cast("double") / F.col("n_true_pairs"),
        ).alias("recall"),
    )


def _pair_recall_oracle(
    truth_sql: str, det_sql: str, det_col: str, prelude: str = ""
) -> str:
    """DuckDB twin of :func:`_detector_recall_counts` — THE pair-recall
    tail every detector recall oracle shares. ``truth_sql`` and
    ``det_sql`` are pair queries with (doc_i, doc_j) columns; ``prelude``
    holds CTEs they read (the sampled slice's table shadow, shared
    feature CTEs)."""
    prelude = f"{prelude},\n    " if prelude else ""
    return f"""
    WITH {prelude}truth AS (SELECT doc_i, doc_j FROM ({truth_sql})),
    det AS (SELECT doc_i, doc_j FROM ({det_sql})),
    hit AS (
      SELECT t.doc_i, t.doc_j FROM truth t
      WHERE EXISTS (
        SELECT 1 FROM det d WHERE d.doc_i = t.doc_i AND d.doc_j = t.doc_j
      )
    )
    SELECT (SELECT count(*) FROM truth) AS n_true_pairs,
           (SELECT count(*) FROM det) AS {det_col},
           (SELECT count(*) FROM hit) AS n_hit_pairs,
           CASE WHEN (SELECT count(*) FROM truth) > 0
                THEN (SELECT count(*) FROM hit)::DOUBLE
                     / (SELECT count(*) FROM truth)
                ELSE NULL END AS recall
    """


def _text_slice_recall_oracle(det_sql: str, det_col: str) -> str:
    """SQL twin of scoring a detector against ``_recall_slice_shared``:
    the exact-Jaccard truth and ``det_sql`` both read the gated slice."""
    return _pair_recall_oracle(
        dedup_ngram_pairs_oracle(), det_sql, det_col, prelude=_sql_slice_cte()
    )


@query
def dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of ``dedup_simhash`` against the exact 3-gram-Jaccard truth
    on the deterministic eval slice all text recall twins share
    (``_recall_slice_shared``). The segment join is complete for hamming
    <= HAMMING_MAX, so the loss measured is the signature's: true near-dup
    pairs whose signatures differ in more bits. Measured: recall
    0.89/1.00/0.89 at sf0.001/0.01/0.1, 62 emitted pairs against 70 true
    on the sf0.1 slice (the round-8 32-bit unigram signature: 0.50 and
    157,521).
    """
    posts, truth = _recall_slice_shared(spark, sf_dir)
    # budget=None: the eval slice is fixed-size (~RECALL_SAMPLE_TARGET
    # docs), so the volume guard would only add an estimate job and a
    # signature checkpoint; the guard has its own trip tests and runs on
    # the production detector
    det = simhash_pairs(
        simhash_sig(posts, "g", SIMHASH_BITS),
        SIMHASH_BITS,
        HAMMING_MAX,
        1,
        budget=None,
    )
    return _detector_recall_counts(truth, det, "n_simhash_pairs")


def dedup_simhash_recall_oracle() -> str:
    return _text_slice_recall_oracle(dedup_simhash_oracle(), "n_simhash_pairs")


@query
def dedup_minhash_oph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the one-permutation MinHash detector against the SAME
    exact 3-gram-Jaccard truth slice every text recall twin uses — the
    measured answer to "what does the 12× hash saving cost in banding
    loss?". Both detectors verify with exact Jaccard at the same
    threshold, so OPH pairs are a subset of true pairs and recall isolates
    the signature's banding loss exactly as ``dedup_minhash_recall`` does
    for the classic signature; compare the two rows directly.

    Runs on the deterministic hash-bucket slice (fixed
    ~RECALL_SAMPLE_TARGET_DOCS doc budget at any corpus size, the
    quadratic truth stays constant across the scaling decades); the
    sliced postings and the truth come from the session memo shared by
    all three text recall twins (``_recall_slice_shared``).
    """
    posts, truth = _recall_slice_shared(spark, sf_dir)
    det = _banded_pairs(posts, _bands_from_sig(_oph_signature(posts)))
    return _detector_recall_counts(truth, det, "n_oph_pairs")


def dedup_minhash_oph_recall_oracle() -> str:
    return _text_slice_recall_oracle(dedup_minhash_oph_oracle(), "n_oph_pairs")


def dedup_minhash_recall_oracle() -> str:
    return _pair_recall_oracle(
        dedup_ngram_pairs_oracle(), dedup_minhash_lsh_oracle(), "n_lsh_pairs"
    )


def dedup_minhash_recall_sampled_oracle() -> str:
    return _text_slice_recall_oracle(dedup_minhash_lsh_oracle(), "n_lsh_pairs")


# --------------------------------------------------------------------------
# asymmetric containment (subsumed-document detection)
# --------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.85


@query
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT (Broder's resemblance companion
    measure): C(i in j) = |S_i ∩ S_j| / |S_i| — the detector for documents
    SUBSUMED by another (a quoted article inside a longer page, a chapter
    inside the full book). Symmetric Jaccard structurally misses these:
    a 100-shingle doc fully contained in a 10000-shingle doc has Jaccard
    ~0.01 but containment 1.0, so a Jaccard-threshold dedup keeps both
    copies of the text. Emits both directions plus the pair when
    max(C(i in j), C(j in i)) >= CONTAINMENT_THRESHOLD; the keep policy
    downstream drops the contained (smaller) side.

    Scale: the df-capped candidates and verify of dedup_ngram_pairs_capped
    (``_df_capped_pairs``: bucket cost <= NGRAM_DF_CAP² per rare
    shingle, boilerplate shingles never join) — containment needs no new
    shuffle shape, only a different normalizer (|S_i| instead of the
    union).
    """
    v = _df_capped_pairs(_posts_checkpoint(spark, sf_dir))
    return v.select(
        "doc_i",
        "doc_j",
        (F.col("c") / F.col("n_i")).alias("cont_i_in_j"),
        (F.col("c") / F.col("n_j")).alias("cont_j_in_i"),
    ).filter(F.greatest("cont_i_in_j", "cont_j_in_i") >= CONTAINMENT_THRESHOLD)


def dedup_containment_pairs_oracle() -> str:
    return _sql_verified_pairs(
        _sql_df_capped_cand(),
        out="c::DOUBLE / n_i AS cont_i_in_j, c::DOUBLE / n_j AS cont_j_in_i",
        accept=f"greatest(c::DOUBLE / n_i, c::DOUBLE / n_j) >= {CONTAINMENT_THRESHOLD}",
    )

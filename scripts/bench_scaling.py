#!/usr/bin/env python
"""Scaling-exponent bench: every registry query timed at sf0.01 AND sf0.1,
with the per-query time ratio as a superlinearity gate (round-4 verdict
ask #4). A flat sf0.1 wall-clock can hide an O(n²) operator whose constant
is still small at bench scale; the 10× data step makes the exponent
visible — a linear operator's ratio is bounded by ~10× (and in practice
far lower, since per-query fixed overhead of 0.1-0.7 s dominates many
sub-second queries at BOTH scales), while a quadratic one trends toward
100×.

Gate: flag ratio > RATIO_GATE (20) where the sf0.01 time exceeds
T01_FLOOR (0.15 s — below that the numerator of the ratio is scheduler
noise, not data work) — OR, independent of the floor, where the ratio
exceeds the gate AND the large-scale time exceeds T_ABS_CEILING (5 s):
a quadratic operator with a tiny constant (0.1 s → 30 s is ratio 300)
must not hide behind the noise floor (review finding). Writes
BENCH_SCALING.json; exits non-zero if any query is flagged, so the
artifact doubles as a CI gate.

Method notes: both scales run in ONE Spark session (local[SPARK_GRAFT_CPUS]), sf0.01
first, after bench.py's footer/worker/codegen warm-ups — so one-time JIT
is mostly absorbed before any timed run and the sf0.1 pass is
codegen-warm (which can only shrink ratios of innocent queries, never
mask a superlinear one, because the masked work is data-proportional).

Second decade (round-5 verdict ask #1): when the repo-generated sf1
extrapolation exists (``scripts/gen_sf1.py`` →
``/root/testdata_local/sf1``), the shuffle-heavy set SF1_QUERIES (the
BENCH_SKEW query set + the composed evals + the heaviest TPC-H joins)
is ALSO timed there, adding ``t_sf1``/``ratio_sf1`` columns under the
same 20× gate (floor on t_sf0.1, absolute ceiling T_SF1_CEILING=30 s) —
so the superlinearity evidence spans sf0.01→sf0.1→sf1, two measured
decades. The full-corpus recall evals stay out of this set by design:
their quadratic TRUTH side is eval-only (the ``_sampled`` production
twin is in).

Third decade (round 6): when the sf10 extrapolation exists
(``scripts/gen_sf10.py`` → ``/root/testdata_local/sf10``), the same set
minus SF10_EXCLUDE is timed there too (``t_sf10``/``ratio_sf10`` over
t_sf1, ceiling T_SF10_CEILING=120 s) — three measured decades, 1000×
lineitem rows end to end (60k → 61M).

Usage: python scripts/bench_scaling.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.01"
SF_LARGE = "/root/testdata/sf0.1"
RATIO_GATE = 20.0
T01_FLOOR = 0.15
T_ABS_CEILING = 5.0

SF_XL = "/root/testdata_local/sf1"  # repo-generated (scripts/gen_sf1.py)
T_SF1_CEILING = 30.0

SF_XXL = "/root/testdata_local/sf10"  # repo-generated (scripts/gen_sf10.py)
T_SF10_CEILING = 120.0

#: Queries whose OUTPUT row count is quadratic in the data BY DATA
#: DENSITY, not by algorithm: the synthetic corpus draws documents from
#: a ~31-word vocabulary, so some pair densities grow ~n². A detector
#: that must EMIT a quadratic edge list cannot run in linear time, so
#: the time-ratio gate does not apply; the query is still timed and
#: recorded, and its value correctness is hash-pinned at sf0.01/sf0.1
#: with count-parity evidence at sf1 (BASELINE.md).
#: (dedup_simhash left this set in round 9: the 64-bit shingle-feature
#: signature emits truth-sized pair lists — 25 / 226 pairs at
#: sf0.01/sf0.1 vs the old unigram signature's 601k/64.6M — so the
#: ordinary time-ratio gate applies to it again.)
OUTPUT_QUADRATIC_BY_DATA = {
    "dedup_fuzzy_prefix": "emits ALL title pairs within edit distance 3;"
    " measured true pairs 271 / 1,539 / 104,787 at sf0.1/sf1/sf10 — the"
    " 5-token title space saturates the 31-word vocabulary, so near-dup"
    " density itself is quadratic by data (PassJoin candidate volume,"
    " sum c² over segment keys, grew 97x over the same step — tracking"
    " the 68x output growth as designed, not outpacing it)",
}

#: Output-quadratic queries are NOT waved through unchecked (round-6
#: advice finding): since their honest cost is proportional to the edge
#: list they must emit, the enforced invariant is OUTPUT-NORMALIZED time
#: — seconds per emitted row must not grow more than NORM_RATIO_GATE
#: across a decade. A regression where candidate volume outpaces true-
#: pair growth (the PassJoin failure mode) shows up directly as per-row
#: time inflation, while fixed per-query overhead only ever DEFLATES the
#: ratio (small scale pays more overhead per row), so the gate has no
#: false-flag pressure from noise floors.
NORM_RATIO_GATE = 10.0

#: Round-10 sibling of OUTPUT_QUADRATIC_BY_DATA for detectors whose COST
#: (not output) is quadratic by data density: the prefix-Jaccard join's
#: candidate volume on this saturating synthetic vocabulary grows ~126x
#: per decade (Σ df_prefix²: 5.0e5 → 6.3e7 → 6.8e9) while its OUTPUT
#: stays near-linear (256 → 464 pairs sf0.1→sf1), so neither the raw
#: time-ratio gate (43–195 s at sf1 across rig epochs — it straddles
#: 20x) nor the per-emitted-row form fits. The honest invariant is
#: seconds per CANDIDATE — the very number the operator's runtime guard
#: estimates — which must stay decade-flat; on healthy data it strictly
#: DEFLATES (per-candidate cost amortizes). The volumes are measured by
#: the same one-aggregate estimate the guard runs
#: (dedup.join_candidate_volume) and recorded next to the times.
CANDIDATE_COST_BY_DATA = {
    "dedup_ngram_pairs_prefix": "candidate volume (Σ df_prefix², the"
    " guard's own estimate) grows ~126x per decade on the saturated"
    " 31-word vocabulary while output stays near-linear (256 → 464"
    " pairs); gated on seconds-per-candidate staying decade-flat, and"
    " bounded above by the operator's 2e9-candidate refusal guard"
    " (trips at sf10, evidence below)",
}

def norm_ratio(t_hi, n_hi, t_lo, n_lo):
    """Per-emitted-row (or per-candidate) time ratio across a decade;
    None when either side lacks positive time and rows."""
    if None in (t_hi, t_lo, n_hi, n_lo):
        return None
    if min(t_hi, t_lo) <= 0 or min(n_hi, n_lo) <= 0:
        return None
    return round((t_hi / n_hi) / (t_lo / n_lo), 2)


def classify_flags(queries: dict, cand_vol: dict) -> list:
    """The ONE decade-gate classification ladder, shared by the live
    bench (main below) and any re-classification of a stored artifact
    (round-10 ADVICE: a separate reflag script hand-duplicated this and
    the copies would drift, silently reclassifying stored artifacts under
    stale rules).

    Operates on the per-query dicts AFTER the time/ratio/rows/norm
    fields are filled in (the live bench computes them from fresh
    measurements; a re-classification reads them from the stored artifact). Mutates
    the gate-exempt bookkeeping fields for the candidate-cost gate and
    returns the sorted flag list. ``-2.0`` is the classified-guard-
    refusal sentinel: recorded in guard_refusals, never flagged."""
    flagged = []
    for name, q in queries.items():
        ts, tl = q["t_sf0.01"], q["t_sf0.1"]
        ratio = q.get("ratio")
        if (ts < 0 and ts != -2.0) or (tl < 0 and tl != -2.0):
            # a query that errors at either scale (an OOM only at sf0.1
            # is the exact superlinear signature this gate exists to
            # catch) must FLAG, not silently fall out of the ratio math
            flagged.append(name)
        elif ratio is not None and ratio > RATIO_GATE and (
            ts > T01_FLOOR or tl > T_ABS_CEILING
        ):
            # the absolute ceiling catches a quadratic op with a small
            # constant (0.1 s → 30 s, ratio 300) that the noise floor
            # would otherwise wave through (review finding)
            flagged.append(name)
        if "t_sf1" in q:
            # second decade: sf0.1 → sf1 under the same gate
            txl = q["t_sf1"]
            ratio1 = q.get("ratio_sf1")
            if name in OUTPUT_QUADRATIC_BY_DATA:
                q["gate_exempt"] = OUTPUT_QUADRATIC_BY_DATA[name]
                # the exemption is from the TIME ratio only: seconds per
                # emitted row must still stay decade-flat
                nr1 = q.get("norm_ratio_sf1")
                if nr1 is not None and nr1 > NORM_RATIO_GATE \
                        and name not in flagged:
                    flagged.append(name)
            if name in CANDIDATE_COST_BY_DATA and cand_vol:
                q["gate_exempt"] = CANDIDATE_COST_BY_DATA[name]
                q["cand_sf0.1"] = cand_vol["sf0.1"]
                q["cand_sf1"] = cand_vol["sf1"]
                ncand = norm_ratio(
                    txl, cand_vol["sf1"], tl, cand_vol["sf0.1"]
                )
                q["norm_ratio_per_candidate_sf1"] = ncand
                if ncand is not None and ncand > NORM_RATIO_GATE \
                        and name not in flagged:
                    flagged.append(name)
            if txl < 0 and txl != -2.0 and name not in flagged:
                flagged.append(name)
            elif ratio1 is not None and ratio1 > RATIO_GATE and (
                tl > T01_FLOOR or txl > T_SF1_CEILING
            ) and name not in flagged \
                    and name not in OUTPUT_QUADRATIC_BY_DATA \
                    and name not in CANDIDATE_COST_BY_DATA:
                flagged.append(name)
        if "t_sf10" in q:
            # third decade: sf1 -> sf10 under the same gate
            txxl = q["t_sf10"]
            txl = q.get("t_sf1", -1.0)
            ratio10 = q.get("ratio_sf10")
            if name in OUTPUT_QUADRATIC_BY_DATA:
                nr10 = q.get("norm_ratio_sf10")
                if nr10 is not None and nr10 > NORM_RATIO_GATE \
                        and name not in flagged:
                    flagged.append(name)
            if txxl < 0 and txxl != -2.0 and name not in flagged:
                flagged.append(name)
            elif ratio10 is not None and ratio10 > RATIO_GATE and (
                txl > T01_FLOOR or txxl > T_SF10_CEILING
            ) and name not in flagged \
                    and name not in OUTPUT_QUADRATIC_BY_DATA:
                flagged.append(name)
    return sorted(set(flagged))


#: shuffle-heavy set for the second decade: the BENCH_SKEW queries +
#: the composed evals (sampled/bounded production modes only) + the
#: heaviest TPC-H joins and graph ops from BENCH_DETAIL.
SF1_QUERIES = [
    "copresence_pairs", "corpus_clean", "corpus_prepare",
    "dedup_clusters", "dedup_clusters_star", "dedup_clusters_best_keeper",
    "dedup_exact", "dedup_fuzzy_prefix", "dedup_minhash_lsh",
    "dedup_minhash_recall_sampled", "dedup_embedding_recall",
    "dedup_ngram_pairs_capped", "dedup_repeated_blocks", "dedup_simhash",
    "dedup_source_overlap", "dedup_substring_spans", "dedup_semantic",
    "docs_split_by_cluster", "event_sessions", "events_heavy_hitters",
    "events_transition_matrix", "graph_components",
    "orders_customer_join_salted", "q18_large_volume_customers",
    "q21_sole_late_supplier", "source_ngram_diversity", "text_bm25_rank",
    "text_nb_quality_classifier", "text_quality_rule_flags",
    "text_tfidf_cosine_pairs", "text_tfidf_top_terms",
    # round-6 additions + the embeddings family (sub-linear 4× data step
    # per the driver's own embeddings scaling — ratios read accordingly)
    "text_bpe_train_apply", "text_nb_calibration", "benchmark_contamination",
    "benchmark_contamination_semantic", "knn_ivf", "knn_lsh_multiprobe",
    "dedup_embedding_lsh", "kmeans_clusters",
    # round-6 retrieval additions
    "retrieval_hybrid_rrf", "retrieval_label_metrics",
    # round-6 depth additions: per-user sequence ops over events, the
    # asymmetric-containment shingle join, copresence-graph peeling, and
    # the embeddings outer-product aggregate
    "events_session_transcripts", "events_disorder_stats",
    "events_audience_overlap", "dedup_containment_pairs", "graph_kcore",
    "embeddings_dim_covariance", "embeddings_centroid_similarity",
    # round-6 late additions: the PQ rung of the ANN ladder and DSIR
    # data selection (two corpus passes + TakeOrderedAndProject top-K)
    "knn_pq_adc", "knn_pq_recall", "docs_dsir_weights",
    "docs_dsir_resample",
    # round-6 session-3 additions: threshold-broadcast quantile cuts (the
    # perplexity buckets re-run the whole bigram-LM fit), cross-label hard
    # negatives, the algebraic rollup merge, LPA over the copresence graph,
    # the power-iteration top PC, the two-stage exact KS, and the skyline
    "docs_quality_quantile_filter", "docs_perplexity_buckets",
    "embeddings_hard_negatives", "events_rollup_merge",
    "graph_communities_lpa", "embeddings_top_pc", "events_ks_test",
    "part_skyline",
    # the basket pair explode (lineitem-driven) and the RFM customer agg
    "parts_market_basket", "customer_rfm_segments",
    # round-7 additions: exact-order-statistic quantile cuts (band filter
    # shares the bucket-prefix fit), the composed IVF-PQ index + recall,
    # the histogram-quantile anchor, both unigram-LM passes (vocab-bounded
    # Viterbi-EM), CUSUM/Mann-Whitney (two-stage day/rank prefixes), the
    # media SimHash pigeonhole join, chunking explode, and PMI pairs
    "docs_quality_band_filter", "knn_ivfpq_adc", "knn_ivfpq_recall",
    "events_value_percentiles_hist", "text_unigram_lm", "text_unigram_apply",
    "events_cusum_changepoint", "events_mannwhitney_u", "media_simhash_pairs",
    "orders_benford_digits", "docs_chunk_windows", "text_cooccurrence_pmi",
    "docs_stratified_sample", "events_seasonal_anomalies",
    # round-8 additions: the two-stage packing cumsum, token-weighted
    # quantile fits (the ppl variant re-runs the bigram-LM fit), the
    # bloom-prefiltered decontamination path, the SimHash recall twins
    # (fixed-budget sliced truth), chained MAD medians, bucketed Spearman
    # midranks, the hourly ACF rollup, and the l-diversity audit
    # round-9 additions: fixed-SEQ_LEN sequence packing (same two-stage
    # offsets as token_packing + a map-side sequence explode), the
    # t-closeness audit, and the bucketed-bloom decontamination path
    "token_packing_sequences", "customers_t_closeness",
    "customers_t_closeness_emd",
    "token_packing", "docs_quality_token_weighted_filter",
    "docs_ppl_token_weighted_buckets", "benchmark_contamination_bloom",
    "dedup_simhash_recall", "media_simhash_recall", "events_mad_outliers",
    "events_spearman_trend", "events_hourly_acf", "customers_l_diversity",
    "dedup_ngram_pairs_prefix",
    # round-9 late additions: the one-permutation MinHash detector + its
    # fixed-budget recall twin, the KN bigram-LM fit+score (the heaviest
    # new corpus pass), the DP histogram release, and the EWMA grid
    "dedup_minhash_oph", "dedup_minhash_oph_recall",
    "text_kneser_ney_logprob", "docs_dp_release", "events_ewma_hourly",
    # round-10 additions: the batched BPE trainer (~TOPC merges per
    # round), the trigram-KN fit+score pair (the deepest corpus pass in
    # the LM ladder), and text_entropy_stats (row-local but per-row
    # O(len·distinct) — benched so the row cost is measured, round-9
    # ADVICE)
    "text_bpe_merges_batched", "text_kneser_ney3_logprob",
    "text_kneser_ney3_apply", "text_entropy_stats",
    # round-10 late additions: the materialized token stream and its
    # packed-sequence layout (corpus-linear explodes + the two-stage
    # offsets; first measured in the round-11 scaling run)
    "text_bpe_encode", "text_bpe_packed_sequences",
    # round-11: the degraded-but-running capped twins of the two sf10
    # guard-refusers — candidate volume bounded at cap·keys_per_row·n
    # (linear by construction), so THESE run the third decade where the
    # exact forms refuse (round-10 verdict ask #2); recall vs the exact
    # forms is 1.0 at sf0.1 at the default caps (RECALL_VS_CAP.json)
    "dedup_fuzzy_prefix_capped", "media_simhash_pairs_capped",
    # round-12: the sampled-truth ANN recall eval (fixed ~32-query budget
    # via the finer-modulus md5 gate; truth O(budget·corpus) — linear per
    # decade) plus the fixed-probe knn recall family, whose brute-force
    # truth is 10 broadcast queries × corpus (linear; it was never in
    # this set only because the set predates the family)
    "knn_lsh_recall_sampled", "knn_lsh_recall", "knn_ivf_recall",
    "knn_quantized_recall",
    # round-12: the fixed-budget embedding recall eval — O(budget²) truth
    # at any corpus size, where the full eval's block-pair truth is O(n²)
    # (73 s at sf10 and growing quadratically)
    "dedup_embedding_recall_sampled",
]

#: Third decade (sf1 -> sf10): the same set MINUS the saturation case.
#: (dedup_simhash left this set in round 9 too: the multi-index probe
#: join — 16-bit segments + 1-bit-correction probes — cut the candidate
#: floor 2⁸× vs narrow-segment pigeonholing, and the detector now runs
#: sf10 in ~18 s with truth-sized output, under the ordinary gate.)
SF10_EXCLUDE = {
    # Caught by this gate in round 8 (disk-filling shuffle at sf10, a
    # REAL catch): prefix filtering's selectivity assumes the feature
    # space dwarfs the corpus, and this synthetic corpus saturates it —
    # a 31-word vocabulary admits only 31^3 = 29,791 distinct 3-token
    # shingles, so at 500k docs every doc's "rarest" prefix shingles
    # carry df in the thousands and the candidate join degrades toward
    # all-pairs (Σ df_prefix² ≈ 2e10). Same vocabulary-saturation class
    # as dedup_simhash's exclusion and dedup_fuzzy_prefix's
    # OUTPUT_QUADRATIC_BY_DATA entry: a data-density property, not an
    # engine cost — real corpora have unbounded Zipfian vocabularies
    # (documented on the operator).
    "dedup_ngram_pairs_prefix",
    # Round-10: both newly-GUARDED detectors now REFUSE at sf10 on this
    # corpus with classified CandidateVolumeError — the refuse-predictably
    # contract working (measured r10: PassJoin estimate 4.44e9 > 2e9
    # budget on the 31-word title space; media pigeonhole estimate
    # 3.49e9 > 2e9 on the near-degenerate byte-4-gram signatures of the
    # same vocabulary). Their estimates are recorded alongside the
    # prefix join's in sf10_saturation_evidence below; both ran the
    # sf1 decade under the ordinary gates. In round 9 (pre-guard) these
    # exact joins RAN at sf10 — dedup_fuzzy_prefix billed ~100 s for its
    # 4.4e9-candidate pass; the guard converts that cliff into an error
    # that names its own magnitude.
    "dedup_fuzzy_prefix",
    "media_simhash_pairs",
}


def main() -> int:
    from komodo_data_spark.session import default_cores, get_spark

    cpus = default_cores()
    spark = get_spark(
        app_name="komodo-bench-scaling",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    import bench
    import __spark_entry__ as e

    qs = e.queries()

    from komodo_data_spark.sources.tables import TABLE_NAMES, load_table

    for sf_dir in (SF_SMALL, SF_LARGE):
        for name in TABLE_NAMES:
            load_table(spark, sf_dir, name).count()
    spark.range(0, int(cpus)).mapInPandas(lambda it: it, schema="id long").count()
    warm_dir = bench.WARMUP_SF_DIR
    for name in bench.WARMUP_QUERIES:
        if name in qs:
            try:
                qs[name](spark, warm_dir).count()
            except Exception:
                pass
            spark.catalog.clearCache()

    from komodo_data_spark.operators.dedup import CandidateVolumeError

    guard_refusals: dict = {}

    def timed(sf_dir: str, names=None) -> tuple[dict[str, float], dict[str, int]]:
        from komodo_data_spark.operators.model_memo import _MEMO

        out: dict[str, float] = {}
        rows: dict[str, int] = {}
        for name in (names if names is not None else qs):
            fn = qs[name]
            # Per-QUERY memo reset (r12): the scaling exponent must
            # measure each query's OWN end-to-end cost at every scale —
            # with session-memo sharing, who pays a shared fit differs
            # between the full-registry sf0.01/sf0.1 sweeps and the
            # reduced sf1/sf10 sets (and the bench-sf warm-up primes
            # some families), which showed up as spurious ratio flags on
            # pure memo consumers (fit-free numerator over fit-paying
            # denominator or vice versa). Clearing before every query
            # restores like-for-like ratios: fits included, everywhere.
            _MEMO.clear()
            t0 = time.perf_counter()
            try:
                rows[name] = fn(spark, sf_dir).count()
                out[name] = round(time.perf_counter() - t0, 4)
            except CandidateVolumeError as exc:
                # the guard refusing IS the designed outcome on an
                # adversarial-density scale — classify it, don't flag it
                # as an engine failure (round-10; in practice the known
                # refusal scales are SF10_EXCLUDEd with evidence, so this
                # path is the honest fallback for a NEW refusal)
                print(
                    f"bench_scaling: {name} guard-refused at {sf_dir}: {exc}",
                    file=sys.stderr,
                )
                guard_refusals.setdefault(name, {})[sf_dir] = {
                    "estimate": exc.estimate,
                    "budget": exc.budget,
                }
                out[name] = -2.0
                rows[name] = -1
            except Exception as exc:
                print(f"bench_scaling: {name} failed at {sf_dir}: {exc}",
                      file=sys.stderr)
                out[name] = -1.0
                rows[name] = -1
            spark.catalog.clearCache()
        return out, rows

    t_small, _ = timed(SF_SMALL)
    t_large, r_large = timed(SF_LARGE)

    have_sf1 = os.path.isdir(SF_XL)
    sf1_set = [n for n in SF1_QUERIES if n in qs]
    t_xl, r_xl = timed(SF_XL, sf1_set) if have_sf1 else ({}, {})

    have_sf10 = os.path.isdir(SF_XXL)
    sf10_set = [n for n in sf1_set if n not in SF10_EXCLUDE]
    t_xxl, r_xxl = timed(SF_XXL, sf10_set) if have_sf10 else ({}, {})

    # For the excluded prefix join, record the very number its runtime
    # saturation guard reads (Σ df_prefix² over the prefix postings) as
    # the exclusion's evidence — the guard now refuses at this volume
    # instead of filling the shuffle disk (round-9 verdict ask #2).
    saturation_evidence = {}
    if have_sf10 and "dedup_ngram_pairs_prefix" in SF10_EXCLUDE:
        from komodo_data_spark.operators import dedup

        posts = dedup._doc_postings(spark, SF_XXL).cache()
        est = dedup.join_candidate_volume(
            dedup._prefix_postings(posts, 7, 10), ["g"]
        )
        saturation_evidence["dedup_ngram_pairs_prefix"] = {
            "sf10_candidate_volume_estimate": est,
            "guard_budget": dedup.PREFIX_CANDIDATE_BUDGET,
            "guard_trips": est > dedup.PREFIX_CANDIDATE_BUDGET,
        }
        spark.catalog.clearCache()
    if have_sf10:
        # Round-10: the generalized guards (CandidateVolumeError) on the
        # SimHash multi-index probe join and the PassJoin segment join —
        # record the same estimate-vs-budget evidence at sf10 so the
        # third decade documents that BOTH detectors stay far from their
        # refusal boundary on this corpus (and exactly where that
        # boundary sits).
        from komodo_data_spark.operators import dedup

        sig = dedup.simhash_sig(
            dedup._doc_postings(spark, SF_XXL), "g", dedup.SIMHASH_BITS
        ).localCheckpoint(eager=True)
        exact, probes = dedup.simhash_segments(
            sig, dedup.SIMHASH_BITS, dedup.HAMMING_MAX, 1
        )
        est_sh = dedup.join_candidate_volume(exact, dedup.SEG_KEYS, probes)
        saturation_evidence["dedup_simhash"] = {
            "sf10_candidate_volume_estimate": est_sh,
            "guard_budget": dedup.SIMHASH_CANDIDATE_BUDGET,
            "guard_trips": est_sh > dedup.SIMHASH_CANDIDATE_BUDGET,
        }
        est_fz = dedup.fuzzy_prefix_candidate_volume(spark, SF_XXL)
        saturation_evidence["dedup_fuzzy_prefix"] = {
            "sf10_candidate_volume_estimate": est_fz,
            "guard_budget": dedup.FUZZY_CANDIDATE_BUDGET,
            "guard_trips": est_fz > dedup.FUZZY_CANDIDATE_BUDGET,
        }
        from komodo_data_spark.operators import multimodal_ops as mm
        from komodo_data_spark.sources.tables import load_table

        media_sig = dedup.simhash_sig(
            mm.media_gram_postings(load_table(spark, SF_XXL, "documents")),
            "g",
            mm.MEDIA_SIMHASH_BITS,
        )
        segs, _ = dedup.simhash_segments(
            media_sig, mm.MEDIA_SIMHASH_BITS, mm.MEDIA_HAMMING_MAX, 0
        )
        est_mp = dedup.join_candidate_volume(segs, dedup.SEG_KEYS)
        saturation_evidence["media_simhash_pairs"] = {
            "sf10_candidate_volume_estimate": est_mp,
            "guard_budget": dedup.SIMHASH_CANDIDATE_BUDGET,
            "guard_trips": est_mp > dedup.SIMHASH_CANDIDATE_BUDGET,
        }
        spark.catalog.clearCache()

    # candidate volumes for the CANDIDATE_COST_BY_DATA gate: the same
    # one-aggregate estimate the operator guard runs, at both decade ends
    cand_vol: dict = {}
    if have_sf1 and any(n in qs for n in CANDIDATE_COST_BY_DATA):
        from komodo_data_spark.operators import dedup as _dd

        for sfd, key in ((SF_LARGE, "sf0.1"), (SF_XL, "sf1")):
            posts = _dd._doc_postings(spark, sfd).cache()
            cand_vol[key] = _dd.join_candidate_volume(
                _dd._prefix_postings(posts, 7, 10), ["g"]
            )
            posts.unpersist()
        spark.catalog.clearCache()

    queries = {}
    for name in qs:
        ts, tl = t_small[name], t_large[name]
        ratio = round(tl / ts, 2) if ts > 0 and tl >= 0 else None
        queries[name] = {"t_sf0.01": ts, "t_sf0.1": tl, "ratio": ratio}
        if name in t_xl:
            txl = t_xl[name]
            queries[name]["t_sf1"] = txl
            queries[name]["ratio_sf1"] = (
                round(txl / tl, 2) if tl > 0 and txl >= 0 else None
            )
            if name in OUTPUT_QUADRATIC_BY_DATA:
                queries[name]["rows_sf1"] = r_xl.get(name, -1)
                queries[name]["norm_ratio_sf1"] = norm_ratio(
                    txl, r_xl.get(name, -1), tl, r_large.get(name, -1)
                )
        if name in t_xxl:
            txxl = t_xxl[name]
            txl = t_xl.get(name, -1.0)
            queries[name]["t_sf10"] = txxl
            queries[name]["ratio_sf10"] = (
                round(txxl / txl, 2) if txl > 0 and txxl >= 0 else None
            )
            if name in OUTPUT_QUADRATIC_BY_DATA:
                queries[name]["rows_sf10"] = r_xxl.get(name, -1)
                queries[name]["norm_ratio_sf10"] = norm_ratio(
                    txxl, r_xxl.get(name, -1), txl, r_xl.get(name, -1)
                )
    flagged = classify_flags(queries, cand_vol)

    top = sorted(
        ((n, q["ratio"]) for n, q in queries.items() if q["ratio"]),
        key=lambda kv: -kv[1],
    )[:10]
    top_sf1 = sorted(
        ((n, q["ratio_sf1"]) for n, q in queries.items()
         if q.get("ratio_sf1")),
        key=lambda kv: -kv[1],
    )[:10]
    top_sf10 = sorted(
        ((n, q["ratio_sf10"]) for n, q in queries.items()
         if q.get("ratio_sf10")),
        key=lambda kv: -kv[1],
    )[:10]
    result = {
        "metric": "per_query_time_ratio_sf0.1_over_sf0.01",
        "ratio_gate": RATIO_GATE,
        "norm_ratio_gate": NORM_RATIO_GATE,
        "t01_floor_sec": T01_FLOOR,
        "t_abs_ceiling_sec": T_ABS_CEILING,
        "sf1_dir": SF_XL if have_sf1 else None,
        "sf1_ceiling_sec": T_SF1_CEILING,
        "n_sf1_queries": len(t_xl),
        "top_ratios_sf1": dict(top_sf1),
        "sf10_dir": SF_XXL if have_sf10 else None,
        "sf10_ceiling_sec": T_SF10_CEILING,
        "n_sf10_queries": len(t_xxl),
        "sf10_excluded": sorted(SF10_EXCLUDE),
        "sf10_saturation_evidence": saturation_evidence,
        "guard_refusals": guard_refusals,
        "top_ratios_sf10": dict(top_sf10),
        "n_queries": len(queries),
        "n_flagged": len(flagged),
        "flagged": sorted(flagged),
        "top_ratios": dict(top),
        "queries": queries,
    }
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_SCALING.json"), "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    print(json.dumps({k: result[k] for k in
                      ("n_queries", "n_flagged", "flagged", "top_ratios")}))
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())

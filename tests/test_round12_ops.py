"""Round-12 pins: storage hygiene of the dedup detector family.

Round-11 verdict ask #3: the remaining ``.cache()`` hubs in the dedup
family (``dedup_ngram_pairs``'s exploded shingles and the
``_doc_postings`` consumers without a ``release=`` path) accumulated one
CacheManager entry per invocation for the session's lifetime. They are
now lazy localCheckpoints, whose blocks the ContextCleaner releases once
the Python result frame is GC'd — so repeated invocations in a
long-lived session keep the persisted-block count at a constant steady
state (the ``scripts/bpe_depth.py`` ``persistent_rdds_after`` assertion,
applied to the dedup family).
"""

from __future__ import annotations

import gc

import pytest


def _persistent_rdd_count(spark) -> int:
    gc.collect()  # flush dead Python frames -> py4j releases the JVM refs
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _cache_manager_size(spark) -> int:
    """Entries in the SQL CacheManager — where ``.cache()`` registers a
    plan for the SESSION's lifetime (nothing evicts it but an explicit
    unpersist/clearCache). localCheckpoint never touches it."""
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def test_dedup_detectors_leave_no_persistent_blocks(spark, sf_dir):
    """10 repeated invocations of each converted detector in ONE session
    leave storage at a constant steady state. Two pins:

    1. The CacheManager gains ZERO entries — the exact leak signature of
       the old ``.cache()`` sites was one never-evicted entry per
       detector per invocation (+50 over this test). Jitter-free: only
       an explicit cache() can grow it.
    2. The persistent-RDD count stays bounded by ~one batch's worth of
       in-flight checkpoint blocks: a finished batch's blocks are
       released by the ContextCleaner during the NEXT batch's activity
       (weak-ref discovery rides the JVM GCs that allocation pressure
       triggers; an idle session drains slowly — measured ~17 in-flight
       after 120 bench queries in one session).
       With the cache() leak this reading was ≥ 50 and growing."""
    from komodo_data_spark.operators.dedup import (
        dedup_containment_pairs,
        dedup_minhash_oph,
        dedup_ngram_pairs,
        dedup_ngram_pairs_capped,
        dedup_ngram_pairs_prefix,
    )

    detectors = (
        dedup_ngram_pairs,
        dedup_ngram_pairs_prefix,
        dedup_ngram_pairs_capped,
        dedup_minhash_oph,
        dedup_containment_pairs,
    )

    def rounds(n):
        for _ in range(n):
            for fn in detectors:
                assert fn(spark, sf_dir).count() >= 0

    cm_before = _cache_manager_size(spark)
    rdd_before = _persistent_rdd_count(spark)
    rounds(5)
    rounds(5)
    cm_after = _cache_manager_size(spark)
    assert cm_after == cm_before, (
        f"CacheManager grew {cm_before} -> {cm_after} over 50 detector "
        f"invocations — a .cache() without unpersist in the dedup family"
    )
    # relative to the pre-test reading: in a full-suite session other
    # tests' in-flight blocks sit in the baseline, and the 50 invocations
    # here may add at most ~one batch's worth of not-yet-collected
    # checkpoints (the cache() leak added 50 never-collected entries)
    in_flight = _persistent_rdd_count(spark)
    assert in_flight <= rdd_before + 40, (
        f"persistent RDDs grew {rdd_before} -> {in_flight} over 50 "
        f"detector invocations — checkpoint blocks are accumulating "
        f"beyond one batch's worth"
    )


def test_converted_hub_queries_leave_no_cache_entries(spark, sf_dir):
    """The multi-consumer hub frames OUTSIDE the dedup family (TF-IDF
    candidate/weight frames, the NB model's count/label frames, the CM
    sketch postings, media frame samples, split-by-cluster assignment,
    cluster edges) are lazy localCheckpoints too — one invocation each
    must add ZERO CacheManager entries. So must every pair-recall twin:
    the recall tail reads each pair set once, so no twin caches one."""
    from komodo_data_spark.operators.dedup import (
        dedup_embedding_recall,
        dedup_embedding_recall_sampled,
        dedup_fuzzy_capped_recall,
        dedup_minhash_oph_recall,
        dedup_minhash_recall,
        dedup_minhash_recall_sampled,
        dedup_simhash_recall,
    )
    from komodo_data_spark.operators.multimodal_ops import (
        media_frame_dedup,
        media_simhash_capped_recall,
        media_simhash_recall,
    )
    from komodo_data_spark.operators.pipeline_ops import (
        dedup_clusters,
        docs_split_by_cluster,
    )
    from komodo_data_spark.operators.text_analysis import (
        boilerplate_ngrams_cm,
        text_nb_calibration,
        text_nb_quality_classifier,
        text_tfidf_cosine_pairs,
    )

    queries = (
        text_tfidf_cosine_pairs,
        text_nb_quality_classifier,
        text_nb_calibration,
        boilerplate_ngrams_cm,
        media_frame_dedup,
        docs_split_by_cluster,
        dedup_clusters,
        dedup_minhash_recall_sampled,
        dedup_simhash_recall,
        dedup_minhash_oph_recall,
        dedup_embedding_recall,
        dedup_embedding_recall_sampled,
        dedup_minhash_recall,
        dedup_fuzzy_capped_recall,
        media_simhash_recall,
        media_simhash_capped_recall,
    )
    cm_before = _cache_manager_size(spark)
    for fn in queries:
        assert fn(spark, sf_dir).count() >= 0
    assert _cache_manager_size(spark) == cm_before


def test_kmeans_published_equals_refit(spark, sf_dir, tmp_path):
    """Cross-session contract for the k-means cell model (round-11
    verdict ask #6): the published centroid frame plus the fit's own
    assignment argmin reproduces the in-session fit row-for-row for BOTH
    consumers (cluster digest, semantic dedup), the store gate fails
    fast when nothing was published, and the published centroids are the
    SAME cell frame the IVFPQ composed index builds on — one fit, three
    families."""
    import pytest

    from komodo_data_spark.operators.similarity import (
        _ivfpq_fit_shared,
        _kmeans_clusters_from,
        dedup_semantic,
        kmeans_apply_published,
        kmeans_clusters,
        publish_kmeans_model,
        read_kmeans_model,
    )
    from komodo_data_spark.operators.similarity import _dedup_semantic_from

    model = str(tmp_path / "kmeans_model")
    with pytest.raises(RuntimeError, match="never been published"):
        kmeans_apply_published(spark, sf_dir, model)

    refit_clusters = {tuple(r) for r in kmeans_clusters(spark, sf_dir).collect()}
    refit_sem = {tuple(r) for r in dedup_semantic(spark, sf_dir).collect()}

    publish_kmeans_model(spark, sf_dir, model)
    cents, assigned = kmeans_apply_published(spark, sf_dir, model)
    pub_clusters = {
        tuple(r) for r in _kmeans_clusters_from(cents, assigned).collect()
    }
    pub_sem = {tuple(r) for r in _dedup_semantic_from(assigned).collect()}
    assert pub_clusters == refit_clusters and pub_clusters
    assert pub_sem == refit_sem and pub_sem

    # the IVFPQ coarse quantizer is this exact cell frame
    cells, _, _, _ = _ivfpq_fit_shared(spark, sf_dir)
    ivfpq_cells = {
        (r["cid"], tuple(r["ce"])) for r in cells.collect()
    }
    published_cells = {
        (r["cid"], tuple(r["ce"]))
        for r in read_kmeans_model(spark, model).collect()
    }
    assert ivfpq_cells == published_cells


def test_session_model_rekeys_on_rewritten_dir(spark, tmp_path):
    """The memo contract is 'deterministic in the sf_dir's FILES', not its
    path string: overwriting a table in place (what the hand-computed
    operator tests do between invocations) must re-fit, and the
    superseded entry for that path must be dropped — while fits over
    DIFFERENT paths (warm-up sf + bench sf) coexist."""
    import os
    import time

    from komodo_data_spark.operators import model_memo
    from komodo_data_spark.operators.model_memo import session_model

    d1 = tmp_path / "a"
    d2 = tmp_path / "b"
    for d in (d1, d2):
        os.makedirs(d)
        (d / "t.parquet").write_bytes(b"v1")

    calls = []

    def fit_factory(tag):
        def fit():
            calls.append(tag)
            return tag

        return fit

    app = spark.sparkContext.applicationId
    assert session_model(spark, "tfam", (str(d1),), fit_factory("a1")) == "a1"
    # memo hit: same files
    assert session_model(spark, "tfam", (str(d1),), fit_factory("a2")) == "a1"
    # different path: coexists, does not evict d1's entry
    assert session_model(spark, "tfam", (str(d2),), fit_factory("b1")) == "b1"
    assert session_model(spark, "tfam", (str(d1),), fit_factory("a3")) == "a1"
    n_before = len([k for k in model_memo._MEMO if k[0] == app])

    # rewrite d1's table in place -> must miss, and the stale entry for
    # that path is evicted (no unbounded growth across rewrites)
    time.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
    (d1 / "t.parquet").write_bytes(b"v2-longer")
    assert session_model(spark, "tfam", (str(d1),), fit_factory("a4")) == "a4"
    assert calls == ["a1", "b1", "a4"]
    assert len([k for k in model_memo._MEMO if k[0] == app]) == n_before


def _jobs_run(spark, fn):
    """(fn(), Spark jobs it ran), counted through a one-off job group."""
    import uuid

    sc = spark.sparkContext
    group = f"shared-fit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_shared_fit_materializes_and_memoizes(spark, tmp_path):
    """``@shared_fit``: returned frames come back materialized (a
    ``LogicalRDD``) and identical on a hit; a frame the fit already
    checkpointed costs no extra job; an omitted default and the same
    value passed explicitly share one entry; a fit that raises memoizes
    nothing, so the next call fits again (the guard-trip contract)."""
    from komodo_data_spark.operators import model_memo
    from komodo_data_spark.operators.model_memo import shared_fit

    d = tmp_path / "sf"
    d.mkdir()
    (d / "t.parquet").write_bytes(b"v1")
    calls = []
    trip = [True]
    ready = spark.range(3).localCheckpoint(eager=True)

    @shared_fit("test_shared_fit_frames")
    def fit(spark, sf_dir, k=2):
        calls.append(k)
        return spark.range(10).filter(f"id % {k} = 0"), ready, k

    @shared_fit("test_shared_fit_ready")
    def fit_ready(spark, sf_dir):
        return ready

    @shared_fit("test_shared_fit_guard")
    def guarded(spark, sf_dir):
        if trip[0]:
            trip[0] = False
            raise RuntimeError("guard tripped")
        return ready

    def plan_class(df):
        return df._jdf.logicalPlan().getClass().getSimpleName()

    lazy, same, k = fit(spark, str(d))
    assert plan_class(lazy) == "LogicalRDD"
    assert same is ready and k == 2
    assert sorted(r.id for r in lazy.collect()) == [0, 2, 4, 6, 8]
    again = fit(spark, str(d), k=2)
    assert again[0] is lazy and again[1] is ready
    assert fit(spark, str(d), 2)[0] is lazy
    assert calls == [2]
    fit(spark, str(d), k=5)
    assert calls == [2, 5]

    out, jobs = _jobs_run(spark, lambda: fit_ready(spark, str(d)))
    assert out is ready and jobs == 0

    with pytest.raises(RuntimeError, match="guard tripped"):
        guarded(spark, str(d))
    assert all(key[1] != "test_shared_fit_guard" for key in model_memo._MEMO)
    assert guarded(spark, str(d)) is ready


def test_shared_fit_evicts_only_stale_files(spark, tmp_path):
    """Fits of one family over the same files with other params coexist
    (the two BPE trainer geometries alternate without refitting); a file
    rewritten under the dir makes every entry over the old files stale."""
    from komodo_data_spark.operators import model_memo
    from komodo_data_spark.operators.model_memo import shared_fit

    d = tmp_path / "sf"
    d.mkdir()
    (d / "t.parquet").write_bytes(b"v1")
    calls = []

    @shared_fit("test_shared_fit_stale")
    def fit(spark, sf_dir, topc):
        calls.append(topc)
        return topc

    for topc in (1, 32, 1):
        fit(spark, str(d), topc)
    assert calls == [1, 32]
    (d / "t.parquet").write_bytes(b"v22")
    fit(spark, str(d), 1)
    assert calls == [1, 32, 1]
    family = [k for k in model_memo._MEMO if k[1] == "test_shared_fit_stale"]
    assert len(family) == 1


def test_shared_fit_rejects_a_redeclared_family():
    """Two fits declaring one family would share its memo key and
    silently serve each other's frames: the second declaration raises."""
    from komodo_data_spark.operators.model_memo import shared_fit

    @shared_fit("test_shared_fit_dup")
    def first(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="test_shared_fit_dup"):

        @shared_fit("test_shared_fit_dup")
        def second(spark, sf_dir):
            return None


def test_detection_shares_are_memo_hits_and_self_consistent(spark, sf_dir):
    """The round-12 detection shares: each registry detector and its
    recall eval read ONE memoized pair list per session, and the eval's
    scalar counts agree exactly with the detections it claims to score.

    1. Memo-hit pin: a second invocation of each shared detector returns
       the SAME checkpointed frame object (no re-detection).
    2. Consistency pin: every recall eval's n_true / n_detector columns
       equal the corresponding registry queries' own counts — the eval
       scores the detection that actually ran, so the pair (detector,
       eval) cannot drift apart.
    """
    from komodo_data_spark.operators.dedup import (
        dedup_fuzzy_capped_recall,
        dedup_fuzzy_prefix,
        dedup_fuzzy_prefix_capped,
        dedup_minhash_lsh,
        dedup_minhash_recall,
        dedup_ngram_pairs,
    )
    from komodo_data_spark.operators.multimodal_ops import (
        media_simhash_capped_recall,
        media_simhash_pairs,
        media_simhash_pairs_capped,
    )

    for fn in (
        dedup_ngram_pairs,
        dedup_minhash_lsh,
        dedup_fuzzy_prefix,
        dedup_fuzzy_prefix_capped,
        media_simhash_pairs,
        media_simhash_pairs_capped,
    ):
        assert fn(spark, sf_dir) is fn(spark, sf_dir), fn.__name__

    r = dedup_minhash_recall(spark, sf_dir).collect()[0]
    assert r["n_true_pairs"] == dedup_ngram_pairs(spark, sf_dir).count()
    assert r["n_lsh_pairs"] == dedup_minhash_lsh(spark, sf_dir).count()

    r = dedup_fuzzy_capped_recall(spark, sf_dir).collect()[0]
    assert r["n_true_pairs"] == dedup_fuzzy_prefix(spark, sf_dir).count()
    assert (
        r["n_capped_pairs"] == dedup_fuzzy_prefix_capped(spark, sf_dir).count()
    )

    r = media_simhash_capped_recall(spark, sf_dir).collect()[0]
    assert r["n_true_pairs"] == media_simhash_pairs(spark, sf_dir).count()
    assert (
        r["n_capped_pairs"]
        == media_simhash_pairs_capped(spark, sf_dir).count()
    )


def test_recall_slice_share_matches_direct_derivation(spark, sf_dir):
    """``_recall_slice_shared`` (one sliced-postings + truth derivation
    for the three text recall twins) is frame-identical to deriving the
    slice and truth directly — the memo only removes recomputation."""
    from komodo_data_spark.operators.dedup import (
        _doc_postings,
        _recall_sample_buckets,
        _recall_slice_shared,
        _truth_pairs_from,
    )
    from komodo_data_spark.operators.pipeline_ops import _bucket_col
    from komodo_data_spark.sources.tables import load_table

    posts, truth = _recall_slice_shared(spark, sf_dir)
    p2, t2 = _recall_slice_shared(spark, sf_dir)
    assert posts is p2 and truth is t2  # memo hit

    n_docs = load_table(spark, sf_dir, "documents").count()
    direct_posts = _doc_postings(spark, sf_dir).filter(
        _bucket_col() < _recall_sample_buckets(n_docs)
    )
    direct_truth = _truth_pairs_from(direct_posts)
    assert sorted(map(tuple, posts.collect())) == sorted(
        map(tuple, direct_posts.collect())
    )
    assert sorted(map(tuple, truth.collect())) == sorted(
        map(tuple, direct_truth.collect())
    )


def test_recall_tail_degenerate_inputs(spark):
    """The one-pass recall tail on degenerate pair sets: empty truth,
    empty detector, both empty, and a truth holding a pair twice. Counts
    are integer zeros, never NULL; recall is NULL exactly when the truth
    is empty; the counts equal truth.count(), det.count() and the
    truth ⋉ det semi-join count, duplicated rows included."""
    from komodo_data_spark.operators.dedup import _detector_recall_counts

    def pairs(rows):
        return spark.createDataFrame(rows, "doc_i long, doc_j long")

    some = [(1, 2), (3, 4), (5, 6)]
    # name: (truth rows, detector rows, (n_true, n_det, n_hit))
    cases = {
        "empty truth": ([], some, (0, 3, 0)),
        "empty detector": (some, [], (3, 0, 0)),
        "both empty": ([], [], (0, 0, 0)),
        # the duplicated truth pair counts twice, and both copies are hits
        "duplicated truth pair": (
            [(1, 2), (1, 2), (3, 4), (7, 8)],
            [(1, 2), (5, 6)],
            (4, 2, 2),
        ),
    }
    for name, (t_rows, d_rows, expected) in cases.items():
        truth, det = pairs(t_rows), pairs(d_rows)
        out = _detector_recall_counts(truth, det, "n_det_pairs").collect()
        assert len(out) == 1, name
        r = out[0]
        got = (r["n_true_pairs"], r["n_det_pairs"], r["n_hit_pairs"])
        assert all(isinstance(v, int) for v in got), name
        semi = truth.join(det, ["doc_i", "doc_j"], "left_semi").count()
        assert got == (truth.count(), det.count(), semi) == expected, name
        if expected[0] == 0:
            assert r["recall"] is None, name
        else:
            assert r["recall"] == expected[2] / expected[0], name


def test_bpe_conflicts_local_matches_column_predicate(spark):
    """The batched trainer's accept waves now run on the DRIVER over the
    collected ≤topc candidate window; its Python conflict predicate must
    agree with the Column form on every ordered pair of the round-10
    conflict fixture (shared operands, output→operand cascades in both
    directions, and the disjoint cases)."""
    from komodo_data_spark.operators.text_analysis import (
        _bpe_conflicts,
        _bpe_conflicts_local,
    )

    cands = [
        ("a", "b"), ("b", "c"), ("d", "e"), ("e", "f"), ("g", "a"),
        ("h", "i"), ("ab", "x"), ("y", "z"), ("w", "hi"), ("yz", "q"),
    ]
    rows = [(za, zb, xa, xb) for za, zb in cands for xa, xb in cands]
    df = spark.createDataFrame(
        [
            {"z": {"a": za, "b": zb}, "x": {"a": xa, "b": xb}}
            for za, zb, xa, xb in rows
        ]
    )
    got_col = [
        r["c"]
        for r in df.select(
            _bpe_conflicts("z", "x").alias("c")
        ).collect()
    ]
    got_local = [
        _bpe_conflicts_local((za, zb), (xa, xb))
        for za, zb, xa, xb in rows
    ]
    assert got_col == got_local


def test_bpe_batched_driver_waves_match_oracle_geometry(spark, sf_dir):
    """End-to-end pin of the driver-side accept waves: the batched
    trainer at a NON-default geometry (rounds=3, topc=8 — not covered by
    the registry oracle) still emits a dense-rank merge table whose
    per-round accepted sets are pairwise conflict-free."""
    from komodo_data_spark.operators.text_analysis import (
        _bpe_conflicts_local,
        _bpe_fit_batched,
    )

    _c, merges = _bpe_fit_batched(spark, sf_dir, rounds=3, topc=8)
    rows = [(r["rank"], r["a"], r["b"]) for r in merges.orderBy("rank").collect()]
    assert [r[0] for r in rows] == list(range(len(rows)))
    assert len(rows) >= 3  # at least one accept per round on this corpus

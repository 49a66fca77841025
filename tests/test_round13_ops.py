"""Round-13 optimization pins.

1. The approx_percentile twins (rows-only registry entries) must track
   their exact oracle-anchored anchors: same schema, and keep/flag/bucket
   sets within sketch tolerance of the exact fit's (at test scale the
   default-accuracy sketch is near-exact, so the tolerance is tight).
2. The map-side Lloyd argmin (array_min over the broadcast candidate
   array) must keep producing the exact assignment the old shuffle
   argmin produced — pinned structurally (no vec_id exchange in the
   assignment plan) and behaviorally via the kmeans digest. An empty
   model gives zero rows, as the old shuffle argmin did.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from komodo_data_spark.session import get_spark

    s = get_spark("test-r13", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _ids(df, col="doc_id"):
    return {r[0] for r in df.select(col).collect()}


def test_quality_quantile_approx_tracks_exact(spark):
    from komodo_data_spark.operators import text_analysis as TA

    exact = TA.docs_quality_quantile_filter(spark, SF)
    approx = TA.docs_quality_quantile_filter_approx(spark, SF)
    assert exact.columns == approx.columns
    e, a = _ids(exact), _ids(approx)
    # default-accuracy sketch at 500 docs: the kept sets may differ only
    # at the threshold boundary (the sketch returns a data value where
    # the exact fit interpolates)
    assert len(e ^ a) <= max(2, len(e) // 20), (len(e), len(a), len(e ^ a))


def test_perplexity_buckets_approx_tracks_exact(spark):
    from komodo_data_spark.operators import text_analysis as TA

    exact = TA.docs_perplexity_buckets(spark, SF)
    approx = TA.docs_perplexity_buckets_approx(spark, SF)
    assert sorted(exact.columns) == sorted(approx.columns)
    em = {r["doc_id"]: r["bucket"] for r in exact.collect()}
    am = {r["doc_id"]: r["bucket"] for r in approx.collect()}
    assert set(em) == set(am)  # every doc bucketed on both sides
    moved = sum(1 for k in em if em[k] != am[k])
    assert moved <= max(2, len(em) // 20), moved


def test_mad_outliers_approx_tracks_exact(spark):
    from komodo_data_spark.operators import stats_ops as SO

    exact = SO.events_mad_outliers(spark, SF)
    approx = SO.events_mad_outliers_approx(spark, SF)
    assert exact.columns == approx.columns
    e, a = _ids(exact, "event_id"), _ids(approx, "event_id")
    assert len(e ^ a) <= max(2, len(e | a) // 20), (len(e), len(a))


def test_approx_twins_have_no_window_in_plan(spark):
    """The sketch twins' whole point: one mergeable aggregate, never the
    exact fit's bucket/window machinery."""
    from komodo_data_spark.operators import stats_ops as SO
    from komodo_data_spark.operators import text_analysis as TA

    for df in (
        TA.docs_quality_quantile_filter_approx(spark, SF),
        SO.events_mad_outliers_approx(spark, SF),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan


def test_kmeans_assign_is_map_side(spark):
    """The Lloyd assignment must not shuffle the corpus: no
    hashpartitioning(vec_id) exchange anywhere in the fit's plan (the
    r13 argmin fold), and the digest stays the fitted one."""
    from komodo_data_spark.operators import similarity as sim

    _, assigned = sim._kmeans_fit(spark, SF)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(vec_id" not in plan
    rows = sim.kmeans_clusters(spark, SF).collect()
    assert len(rows) == sim.KMEANS_K
    assert sum(r["n_members"] for r in rows) > 0


def test_empty_model_assigns_no_rows(spark):
    """An empty centroid frame or codebook yields ZERO rows from every
    shared argmin helper — never vectors with a NULL cid or an empty
    reconstruction that would flow on silently."""
    from komodo_data_spark.operators import similarity as sim

    dim = sim.PQ_M * sim.PQ_SUBDIM
    v = spark.createDataFrame([(1, [0.5] * dim)], "vec_id long, e array<double>")
    sub = spark.createDataFrame(
        [(1, 0, [0.5] * sim.PQ_SUBDIM)], "vec_id long, m int, s array<double>"
    )
    no_cents = spark.createDataFrame([], "cid long, ce array<double>")
    no_codebook = spark.createDataFrame([], "m int, cid long, ce array<double>")
    assert sim._kmeans_assign(v, no_cents).count() == 0
    assert sim._pq_assign(sub, no_codebook).count() == 0
    assert sim._pq_reconstruct_inline(v, no_codebook).count() == 0

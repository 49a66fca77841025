"""Plan-quality regression tests: assert the physical plans keep the shapes
the 100 TB design depends on (predicate pushdown into parquet, column
pruning, broadcast joins for dims, equi-joins — never cartesian — for LSH
candidate generation, shuffle-free map stages for per-row text ops).

These guard against silent plan regressions: a refactor that breaks filter
pushdown still returns correct rows, so only a plan assertion catches it.
"""

from __future__ import annotations

import contextlib
import io

from komodo_data_spark.operators import dedup, relational, similarity, text_analysis

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q3_broadcasts_dims_and_pushes_filters(spark):
    plan = plan_of(relational.q3_shipping_priority(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(l_shipdate" in plan


def test_q1_prunes_columns(spark):
    plan = plan_of(relational.q1_pricing_summary(spark, SF))
    assert "LessThanOrEqual(l_shipdate" in plan  # pushed, not post-scan
    # column pruning: the scan must not read the join key it doesn't need
    scan_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    assert "l_orderkey" not in scan_schema
    assert "l_quantity" in scan_schema


def test_minhash_lsh_uses_equi_joins_only(spark):
    plan = plan_of(dedup.dedup_minhash_lsh(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_oph_uses_equi_joins_and_hashes_once(spark):
    plan = plan_of(dedup.dedup_minhash_oph(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the whole point of OPH: the posting-scale projection evaluates ONE
    # md5 over the shingle (bin route + rank share it); the classic
    # signature's 12-per-posting md5 fan-out must not creep back in. The
    # densification coalesce ladder runs on the per-DOC frame, whose maps
    # are assembled from the single-hash mins — count md5 calls against
    # the raw posting column 'g' in the plan text.
    import re

    oph_hashes = len(re.findall(r"md5\(cast\(concat\(oph\|", plan))
    assert 1 <= oph_hashes <= 2  # one per candidate/verify branch; never 12


def test_kneser_ney_is_aggregate_join_shaped(spark):
    plan = plan_of(text_analysis.text_kneser_ney_logprob(spark, SF))
    assert "CartesianProduct" not in plan
    # the one-row type total rides a broadcast, never a shuffle
    assert "BroadcastExchange" in plan


def test_simhash_uses_equi_joins_only(spark):
    plan = plan_of(dedup.dedup_simhash(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_lsh_is_hash_join(spark):
    plan = plan_of(similarity.knn_lsh_signbits(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_text_token_stats_is_shuffle_free(spark):
    plan = plan_of(text_analysis.text_token_stats(spark, SF))
    assert "Exchange" not in plan  # pure map stage over the scan


def test_events_scan_prunes_props(spark):
    plan = plan_of(relational.events_hourly_rollup(spark, SF))
    scan_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    assert "props" not in scan_schema  # only ts/event_type/value are read


def test_extended_tpch_broadcasts_dims_no_cartesian(spark):
    from komodo_data_spark.operators import tpch_extended as T

    for fn in (T.q8_market_share, T.q18_large_volume_customers, T.q21_sole_late_supplier):
        plan = plan_of(fn(spark, SF))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastHashJoin" in plan, fn.__name__


def test_doc_chunks_is_map_side_only(spark):
    """Chunking must stay scan -> explode -> project; the only exchange
    allowed is the presentation sort's range partitioning."""
    from komodo_data_spark.operators import pipeline_ops as P

    plan = plan_of(P.doc_chunks(spark, SF))
    assert "Generate" in plan  # the explode
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan
    # formatted mode puts the partitioning on a separate Arguments: line —
    # every Exchange must be the sort's rangepartitioning, never a hash
    # repartitioning (that would mean a shuffle crept into the chunker).
    assert "hashpartitioning" not in plan
    n_exchange_nodes = sum(
        1 for l in plan.splitlines()
        if l.strip().startswith("(") and l.strip().endswith("Exchange")
    )
    assert n_exchange_nodes <= 1 or "rangepartitioning" in plan


def test_pivot_runs_no_distinct_discovery_scan(spark):
    """Pinning the pivot value list must keep the plan to ONE events scan —
    an implicit pivot adds a distinct-collect job over the fact table."""
    from komodo_data_spark.operators import reshape as R

    plan = plan_of(R.events_pivot_daily(spark, SF))
    scans = [
        l for l in plan.splitlines()
        if l.strip().startswith("(") and "Scan parquet" in l
    ]
    assert len(scans) == 1, scans


def test_exploded_keeps_expensive_expr_above_exchange(spark):
    """plans.exploded regression guard: plain F.explode adds an implicit
    size>0 filter that Catalyst pushes below the _spread Exchange, where it
    re-evaluates the whole shingle expression serially in the scan task
    (measured 12 s vs 0.9 s at sf0.1). The exploded() form must keep every
    occurrence of the expensive expression (split/transform) ABOVE the
    Exchange."""
    plan = plan_of(dedup._doc_postings(spark, SF))
    lines = plan.splitlines()
    # The formatted plan lists nodes leaves-last in the tree header; use the
    # detailed sections: find the Exchange node id, then assert no Filter
    # node *below* it (higher node id = deeper in this layout) mentions the
    # tokenizer. Simpler equivalent: the scan-side Filter section, if any,
    # must not contain 'split('.
    in_filter = False
    for ln in lines:
        if ln.startswith("(") and ")" in ln:
            in_filter = "Filter" in ln
        if in_filter and "Condition" in ln:
            assert "split(" not in ln, f"tokenizer pushed into Filter: {ln[:120]}"
    assert "Generate" in plan  # explode still present


def test_nearest_asof_is_window_not_theta_join(spark):
    """The nearest-as-of must stay a union+window plan: no inequality join
    (BroadcastNestedLoopJoin/CartesianProduct) anywhere."""
    plan = plan_of(relational.asof_nearest_click(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_substring_spans_equi_joins_only(spark):
    """The duplicated-gram candidate restriction must stay an equi-join on
    the gram key — a cartesian/BNLJ here is the quadratic scale-killer."""
    plan = plan_of(dedup.dedup_substring_spans(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_block_pairs_has_no_driver_collect_shape(spark):
    """Block-pair embedding dedup: plan is scan -> explode -> shuffle on
    (bi, bj) -> cogroup pandas; no broadcast built from a driver collect
    (the round-2 anti-pattern) and no nested-loop join. The registry
    query returns the memoized checkpointed detection (its own plan is a
    1-operator ExistingRDD scan), so the pin runs on the detection
    pipeline underneath — the plan the fit actually executes."""
    from pyspark.sql import functions as F

    from komodo_data_spark.sources.tables import load_spread

    v = (
        load_spread(spark, SF, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    plan = plan_of(dedup._embedding_pairs_from(v))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # and the registry query serves the checkpointed detection
    assert "ExistingRDD" in plan_of(dedup.dedup_embedding_pairs(spark, SF))


def test_semantic_dedup_broadcasts_centroids(spark):
    """The Lloyd assignment must broadcast the k centroids (tiny side); the
    final plan prunes per cluster in a grouped pandas stage over the
    checkpointed assignment (lineage truncated so the fit runs once — the
    fit's own broadcast shape is pinned via the shared _kmeans_fit)."""
    plan = plan_of(similarity.dedup_semantic(spark, SF))
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    _, assigned = similarity._kmeans_fit(spark, SF)
    fit_plan = plan_of(assigned)
    assert "BroadcastNestedLoopJoin" in fit_plan or "BroadcastExchange" in fit_plan


def test_quality_classifier_single_shuffle(spark):
    """Scorer is a map-side projection; the only exchanges are the _spread
    rebalance and the per-source rollup — no join, no window."""
    plan = plan_of(text_analysis.text_quality_classifier(spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan


def test_domain_stats_is_two_combinable_aggs_no_expand(spark):
    """The exact distinct path count must plan as two explicit hash
    aggregates (host,path -> host), never a countDistinct Expand rewrite
    whose first shuffle would be per-page at crawl scale."""
    from komodo_data_spark.operators import pipeline_ops

    plan = plan_of(pipeline_ops.docs_domain_stats(spark, SF))
    assert "Expand" not in plan
    assert plan.count("Exchange") >= 2  # the two agg shuffles + output sort


def test_rule_flags_has_no_distinct_rewrite_or_python(spark):
    from komodo_data_spark.operators import text_analysis as TA

    plan = plan_of(TA.text_quality_rule_flags(spark, SF))
    assert "Expand" not in plan
    assert "EvalPython" not in plan


def test_pii_redact_is_single_codegen_projection(spark):
    """Redaction must stay one whole-stage-codegen map pass: no joins, no
    aggregates before the deterministic output sort."""
    from komodo_data_spark.operators import pipeline_ops

    plan = plan_of(pipeline_ops.text_pii_redact(spark, SF))
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "EvalPython" not in plan


def test_capped_twins_use_equi_joins_only(spark):
    """The degraded-but-running capped detectors (round-11) keep the
    candidate generation an equi-join: no cartesian/nested-loop shapes
    anywhere in either plan."""
    from komodo_data_spark.operators import multimodal_ops

    for df in (
        dedup.dedup_fuzzy_prefix_capped(spark, SF),
        multimodal_ops.media_simhash_pairs_capped(spark, SF),
    ):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


# --------------------------------------------------------------------------
# broadcast-ceiling degradation (round-11 verdict ask #4): at sf0.01 every
# unhinted join broadcasts, so plan audits show zero sort-merge joins — these
# pins prove the big joins degrade to SMJ (never BroadcastNestedLoop) when
# the small side outgrows the broadcast ceiling, by disabling auto-broadcast
# outright, and that AQE's skew handling stays armed underneath.
# --------------------------------------------------------------------------

import contextlib as _ctx


@_ctx.contextmanager
def _no_auto_broadcast(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_minhash_band_join_degrades_to_sort_merge(spark):
    """The LSH band self-join and the verify joins are all equi-joins, so
    with the broadcast ceiling gone they must plan as SortMergeJoin — a
    BroadcastNestedLoopJoin here would mean a join lost its equi keys and
    the detector went quadratic at exactly the scale where broadcast
    stops being available. Built from the pipeline pieces directly: the
    registry query reads the session memo's materialized checkpoint,
    whose plan is a scan."""
    with _no_auto_broadcast(spark):
        posts = dedup._doc_postings(spark, SF)
        pairs = dedup._verify_jaccard(
            posts, dedup._band_candidates(dedup.bands_of(posts))
        )
        plan = plan_of(pairs)
    assert "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_contamination_uid_join_degrades_to_sort_merge(spark):
    """benchmark_contamination: the hit-count join back on the unique row
    key must degrade to SortMergeJoin without auto-broadcast; the
    benchmark-shingle probe join stays a broadcast-hash join because that
    side is EXPLICITLY hinted (benchmark sets are tiny by design; the
    beyond-broadcast path is the bloom twin)."""
    from komodo_data_spark.operators import pipeline_ops

    with _no_auto_broadcast(spark):
        plan = plan_of(pipeline_ops.benchmark_contamination(spark, SF))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" in plan  # the hinted probe join survives
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q3_fact_join_degrades_to_sort_merge_with_aqe_skew_armed(spark):
    """The unhinted orders⋈lineitem fact join in q3 must plan as
    SortMergeJoin when auto-broadcast is off (the hinted customer dim
    keeps its broadcast), and the AQE skew-join machinery that would
    split a skewed fact partition at runtime stays enabled under the
    threshold override."""
    with _no_auto_broadcast(spark):
        plan = plan_of(relational.q3_shipping_priority(spark, SF))
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert (
            spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
        )
    assert "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

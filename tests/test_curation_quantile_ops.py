"""Hand-computed pins for the round-6 curation depth ops: per-source
quality-quantile filtering, CCNet-style perplexity buckets, algebraic
partial-aggregate rollup merging, and cross-label hard-negative mining.
Each test builds a tiny parquet table whose answer is computable by hand,
so the semantics are pinned independently of the DuckDB oracle pairing in
scripts/check.py."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def _write_docs(tmp_path, rows, name="qdocs_sf"):
    """rows: (doc_id, text, lang, source)."""
    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": [r[2] for r in rows],
            "source": [r[3] for r in rows],
            "n_chars": [len(r[1]) for r in rows],
        }
    )
    d = tmp_path / name
    d.mkdir()
    pdf.to_parquet(str(d / "documents.parquet"))
    return str(d)


def _distinct_words(prefix: str, n: int) -> str:
    # all-distinct tokens -> TTR = 1 -> quality = min(n/100, 1)
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_quality_quantile_filter_per_source_thresholds(spark, tmp_path):
    """Thresholds are PER SOURCE: with all-distinct-token docs the quality
    score is exactly n_tokens/100, so the 70th-percentile cut is
    hand-computable via the integer bracket rule (k_lo = ((n-1)*7) div 10).
    Source a: scores .1/.2/.3/.4, (3*7)=21 -> k_lo=2 rem=1 -> thr =
    .3 + .1*(.4-.3) = .31 -> only the .4 doc survives. Source b: scores
    .1/.5, (1*7)=7 -> k_lo=0 rem=7 -> thr = .1 + .7*.4 = .38 -> only the
    .5 doc survives. A global cut would have kept both b-docs out or let
    extra a-docs in."""
    from komodo_data_spark.operators.text_analysis import (
        docs_quality_quantile_filter,
    )

    rows = [
        (1, _distinct_words("a", 10), "en", "srca"),
        (2, _distinct_words("b", 20), "en", "srca"),
        (3, _distinct_words("c", 30), "en", "srca"),
        (4, _distinct_words("d", 40), "en", "srca"),
        (5, _distinct_words("e", 10), "en", "srcb"),
        (6, _distinct_words("f", 50), "en", "srcb"),
    ]
    d = _write_docs(tmp_path, rows)
    got = {
        r["doc_id"]: r for r in docs_quality_quantile_filter(spark, d).collect()
    }
    assert set(got) == {4, 6}
    assert abs(got[4]["quality_score"] - 0.4) < 1e-12
    assert got[4]["source"] == "srca"
    assert abs(got[6]["quality_score"] - 0.5) < 1e-12


def test_perplexity_buckets_per_lang_terciles(spark, tmp_path):
    """Bucket sizes follow each language's OWN terciles. en n=8: tail rank
    (7*1)/3 = 2.33 -> threshold strictly inside (s2, s3) -> 3 tail; head
    rank (7*2)/3 = 4.67 -> inside (s4, s5) -> 3 head; 2 middle. de n=4:
    tail rank (3*1)/3 = 1 EXACT -> threshold == s1 -> 1 tail (strict <);
    head rank (3*2)/3 = 2 exact -> threshold == s2 -> 2 head (>=), 1
    middle — the integer-rank-hit edge case on both cuts. Doc texts repeat
    one common bigram a varying number of times and close with one
    doc-unique (hence corpus-rare) bigram, so every doc has a distinct
    average and the order is forced."""
    from komodo_data_spark.operators.text_analysis import (
        docs_perplexity_buckets,
    )

    def doc(i: int, n_common: int, lang: str) -> tuple:
        # "x x x ... x uniq<i>" -> n_common 'x x' bigrams + 1 rare bigram
        return (i, " ".join(["x"] * (n_common + 1)) + f" uniq{i}", lang, "s")

    rows = [doc(i, 2 + i, "en") for i in range(1, 9)]
    rows += [doc(10 + i, 2 + i, "de") for i in range(1, 5)]
    d = _write_docs(tmp_path, rows, name="ppl_sf")
    out = docs_perplexity_buckets(spark, d).collect()
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    assert {len(by_lang["en"]), len(by_lang["de"])} == {8, 4}
    for lang, n_head, n_tail in (("en", 3, 3), ("de", 2, 1)):
        rs = sorted(by_lang[lang], key=lambda r: r["avg_logprob"])
        scores = [r["avg_logprob"] for r in rs]
        assert len(set(scores)) == len(scores)  # distinct: order is forced
        n = len(rs)
        assert [r["bucket"] for r in rs] == (
            ["tail"] * n_tail
            + ["middle"] * (n - n_head - n_tail)
            + ["head"] * n_head
        )


def _write_events(tmp_path, rows, name="rm_sf"):
    """rows: (event_id, ts_ms, value-or-None)."""
    ns = 1_000_000
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] * ns for r in rows], pa.timestamp("ns")),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    d = tmp_path / name
    d.mkdir()
    pq.write_table(table, d / "events.parquet")
    return str(d)


def test_rollup_merge_moments_match_direct_aggregate(spark, tmp_path):
    """Merged hourly partials equal the hand-computed direct daily
    aggregate, including the NULL split (n_events counts traffic, n_values
    only moments) and the naive-moment variance. Day 0 spans two hours so
    the merge path is actually exercised; day 1 is a single value with
    variance exactly 0."""
    from komodo_data_spark.operators.timeseries import (
        DAY_MS,
        HOUR_MS,
        events_rollup_merge,
    )

    rows = [
        (1, 1_000, 1.0),  # day 0, hour 0
        (2, 2_000, 2.0),  # day 0, hour 0
        (3, 3_000, None),  # day 0, hour 0 — no moment contribution
        (4, HOUR_MS + 5, 4.0),  # day 0, hour 1
        (5, DAY_MS + 7, 10.0),  # day 1
    ]
    d = _write_events(tmp_path, rows)
    got = {r["day_ms"]: r for r in events_rollup_merge(spark, d).collect()}
    assert set(got) == {0, DAY_MS}
    d0 = got[0]
    assert d0["n_events"] == 4 and d0["n_values"] == 3
    assert d0["sum_value"] == 7.0
    assert d0["min_value"] == 1.0 and d0["max_value"] == 4.0
    assert abs(d0["mean_value"] - 7.0 / 3.0) < 1e-12
    # var_pop = (1+4+16)/3 - (7/3)^2 = 14/9
    assert abs(d0["var_pop_value"] - 14.0 / 9.0) < 1e-12
    d1 = got[DAY_MS]
    assert d1["n_events"] == 1 and d1["n_values"] == 1
    assert abs(d1["var_pop_value"] - 0.0) < 1e-12


def test_hard_negatives_cross_label_only_and_ranked(spark, tmp_path):
    """The identical same-label twin (cosine 1) must NOT appear; neighbors
    are exactly the cross-label vectors ranked by cosine with the
    deterministic id tie-break."""
    from komodo_data_spark.operators.similarity import (
        embeddings_hard_negatives,
    )

    vecs = [
        (0, [1.0, 0.0], 0),  # query
        (1, [1.0, 0.0], 0),  # same-label twin: excluded despite cosine 1
        (2, [0.9, 0.1], 1),
        (3, [0.0, 1.0], 1),
        (4, [1.0, 0.01], 2),
    ]
    table = pa.table(
        {
            "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
            "embedding": pa.array(
                [v[1] for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([v[2] for v in vecs], pa.int32()),
        }
    )
    d = tmp_path / "hn_sf"
    d.mkdir()
    pq.write_table(table, d / "embeddings.parquet")
    rows = [
        r
        for r in embeddings_hard_negatives(spark, str(d)).collect()
        if r["query_id"] == 0
    ]
    rows.sort(key=lambda r: r["rnk"])
    assert [r["neighbor_id"] for r in rows] == [4, 2, 3]
    assert [r["neighbor_label"] for r in rows] == [2, 1, 1]
    assert all(r["query_label"] == 0 for r in rows)
    assert rows[0]["cosine"] > rows[1]["cosine"] > rows[2]["cosine"]
    assert abs(rows[2]["cosine"] - 0.0) < 1e-12


# --------------------------------------------------------------------------
# exact_group_quantiles — the engine-exact arbitrary-fraction quantile fit
# --------------------------------------------------------------------------


def _py_exact_quantile(vals, num, den):
    """The integer-bracket rule the engine defines: k_lo in exact integer
    arithmetic, one double interpolation."""
    vals = sorted(vals)
    pos_num = (len(vals) - 1) * num
    lo, rem = divmod(pos_num, den)
    hi = lo + (1 if rem else 0)
    return vals[lo] + (rem / den) * (vals[hi] - vals[lo])


def test_exact_group_quantiles_hand_and_numpy(spark):
    """Arbitrary fractions (0.7, 0.9, 1/3) on groups exercising every edge:
    distinct values, heavy ties, a singleton, and an all-equal group. Must
    equal the pure-Python integer-bracket rule EXACTLY (same semantics) and
    numpy's linear interpolation to float tolerance (same definition)."""
    import numpy as np

    from komodo_data_spark.operators.quantiles import exact_group_quantiles

    data = {
        "fib": [1.0, 1.0, 2.0, 3.0, 5.0, 8.0, 13.0],
        "ties": [2.5, 2.5, 2.5, 2.5, 7.0],
        "solo": [42.0],
        "flat": [3.0, 3.0, 3.0],
    }
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, ["grp", "val"])
    qs = {"q70": (7, 10), "q90": (9, 10), "t1": (1, 3)}
    got = {r["grp"]: r for r in exact_group_quantiles(df, ["grp"], "val", qs).collect()}
    assert set(got) == set(data)
    for g, vs in data.items():
        for name, (num, den) in qs.items():
            want = _py_exact_quantile(vs, num, den)
            assert got[g][name] == want, (g, name, got[g][name], want)
            np_want = float(np.quantile(np.array(vs), num / den, method="linear"))
            assert abs(got[g][name] - np_want) < 1e-12, (g, name)


def test_exact_group_quantiles_global_mode(spark):
    """Empty group_cols -> one global threshold row (the RFM shape)."""
    from komodo_data_spark.operators.quantiles import exact_group_quantiles

    df = spark.createDataFrame([(float(v),) for v in range(11)], ["val"])
    out = exact_group_quantiles(df, [], "val", {"q": (9, 10)}).collect()
    assert len(out) == 1
    assert out[0]["q"] == 9.0  # rank (10*9)/10 = 9 exactly -> v[9]


def test_exact_group_kth_ties_clamp_and_global_mode(spark):
    """k-th smallest per group (1-based): heavy ties resolve to the tied
    VALUE, k beyond the group size clamps to the group max, empty
    group_cols gives one global row, NULLs are ignored, and k < 1
    raises."""
    import pytest

    from komodo_data_spark.operators.quantiles import exact_group_kth

    data = {
        "ties": [2.5, 2.5, 2.5, 2.5, 7.0, 1.0],
        "small": [4.0, 3.0],
        "spread": [float(v) for v in range(100, 0, -7)],
    }
    rows = [(g, v) for g, vs in data.items() for v in vs] + [("small", None)]
    df = spark.createDataFrame(rows, "grp string, val double")
    for k in (1, 2, 3, 5, 6, 50):
        got = {
            r["grp"]: r["cut"]
            for r in exact_group_kth(df, ["grp"], "val", k, out_col="cut").collect()
        }
        want = {g: sorted(vs)[min(k, len(vs)) - 1] for g, vs in data.items()}
        assert got == want, (k, got, want)
    every = sorted(v for vs in data.values() for v in vs)
    glob = exact_group_kth(df, [], "val", 7).collect()
    assert [r.asDict() for r in glob] == [{"kth": every[6]}]
    with pytest.raises(ValueError):
        exact_group_kth(df, ["grp"], "val", 0)


def test_quality_band_filter_hand_computed(spark, tmp_path):
    """Band keep [median, p90): scores .1/.2/.3/.4/.5 (n=5, all-distinct
    tokens). median rank (4*1)/2 = 2 -> lo = .3; p90 rank (4*9)/10 = 3.6
    -> hi = .4 + .6*(.5-.4) = .46. Keep = {.3, .4} — the top doc (.5) is
    trimmed by the upper cut, the bottom two by the lower."""
    from komodo_data_spark.operators.text_analysis import (
        docs_quality_band_filter,
    )

    rows = [
        (i, _distinct_words(chr(96 + i), 10 * i), "en", "srca")
        for i in range(1, 6)
    ]
    d = _write_docs(tmp_path, rows, name="band_sf")
    got = {r["doc_id"] for r in docs_quality_band_filter(spark, d).collect()}
    assert got == {3, 4}


# --------------------------------------------------------------------------
# exact_group_weighted_quantiles — token-mass thresholds (round-8 verdict #2)
# --------------------------------------------------------------------------


def _py_weighted_threshold(pairs, num, den):
    """The weighted-rank rule the engine defines: smallest value v such
    that the cumulative weight of rows with value <= v reaches
    clamp(ceil(W*num/den), 1, W). Pure-integer target, no interpolation."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    tgt = max(1, min(-(-(total * num) // den), total))
    cum = 0
    for v, w in pairs:
        cum += w
        if cum >= tgt:
            return v
    raise AssertionError("unreachable: weights are positive")


def test_weighted_quantiles_hand_computed(spark):
    """Hand pins covering the boundary semantics: ceil target, a whole
    boundary class (value ties straddling the target), q=0 -> min,
    q=1 -> max, and a heavy-weight singleton."""
    from komodo_data_spark.operators.quantiles import (
        exact_group_weighted_quantiles,
    )

    # grp A: values 1..4 with weights 1,2,3,4 (W=10). q=3/10 -> tgt=3 ->
    # cum(1)=1, cum(2)=3 -> thr 2.0. q=1/2 -> tgt=5 -> cum(3)=6 -> 3.0.
    # grp B: all-tied values (W=6): every fraction returns the tied value.
    # grp C: singleton with weight 9: every fraction returns it.
    rows = (
        [("A", float(v), v) for v in (1, 2, 3, 4)]
        + [("B", 7.5, w) for w in (1, 2, 3)]
        + [("C", 42.0, 9)]
    )
    df = spark.createDataFrame(rows, ["grp", "val", "w"])
    qs = {"q0": (0, 10), "q30": (3, 10), "q50": (1, 2), "q100": (10, 10)}
    got = {
        r["grp"]: r
        for r in exact_group_weighted_quantiles(
            df, ["grp"], "val", "w", qs
        ).collect()
    }
    assert got["A"]["q0"] == 1.0
    assert got["A"]["q30"] == 2.0
    assert got["A"]["q50"] == 3.0
    assert got["A"]["q100"] == 4.0
    for name in qs:
        assert got["B"][name] == 7.5
        assert got["C"][name] == 42.0


def test_weighted_quantiles_match_python_mirror(spark):
    """Property test (hypothesis): exact_group_weighted_quantiles == the
    pure-Python weighted-rank mirror on arbitrary small corpora — a tiny
    value alphabet forces heavy ties (the worst case for threshold
    membership) and weights cover 1..7."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from komodo_data_spark.operators.quantiles import (
        exact_group_weighted_quantiles,
    )

    qs = {"q30": (3, 10), "q70": (7, 10), "t1": (1, 3), "q100": (1, 1)}

    @given(
        st.lists(
            st.tuples(
                st.sampled_from(["gA", "gB"]),
                st.sampled_from([0.0, 0.25, 0.5, 1.0, 2.0]),
                st.integers(min_value=1, max_value=7),
            ),
            min_size=1,
            max_size=24,
        )
    )
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def inner(rows):
        df = spark.createDataFrame(rows, ["grp", "val", "w"])
        got = {
            r["grp"]: r
            for r in exact_group_weighted_quantiles(
                df, ["grp"], "val", "w", qs
            ).collect()
        }
        groups = {}
        for g, v, w in rows:
            groups.setdefault(g, []).append((v, w))
        assert set(got) == set(groups)
        for g, pairs in groups.items():
            for name, (num, den) in qs.items():
                want = _py_weighted_threshold(pairs, num, den)
                assert got[g][name] == want, (g, name, got[g][name], want)

    inner()

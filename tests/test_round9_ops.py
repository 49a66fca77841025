"""Round-9 operator tests: the prefix-join saturation guard and the
upgraded 64-bit shingle-feature SimHash detector."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _saturated_posts(spark):
    """A corpus whose gram space is saturated: 60 docs drawing 4 grams
    each from a 6-gram vocabulary — every 'rare' prefix gram is hot
    (df ~ 40), the exact shape that degraded the sf10 prefix join."""
    vocab = [f"g{i}" for i in range(6)]
    rows = [
        (d, vocab[(d + k) % 6]) for d in range(60) for k in range(4)
    ]
    return spark.createDataFrame(rows, ["doc_id", "g"]).cache()


def test_prefix_saturation_guard_trips(spark):
    from komodo_data_spark.operators.dedup import (
        VocabularySaturationError,
        _prefix_postings,
        join_candidate_volume,
        prefix_filtered_jaccard_pairs,
    )

    posts = _saturated_posts(spark)
    est = join_candidate_volume(_prefix_postings(posts, 7, 10), ["g"])
    assert est > 1000  # genuinely saturated: ~hot-df² candidate volume
    with pytest.raises(VocabularySaturationError) as exc:
        prefix_filtered_jaccard_pairs(posts, 7, 10, budget=1000)
    assert exc.value.estimate == est
    assert exc.value.budget == 1000
    # refusal happens BEFORE the candidate join: the message carries the
    # one-aggregate estimate, so callers can size a fallback
    assert f"{est:,}" in str(exc.value)


def test_prefix_guard_stays_open_on_rare_key_corpus(spark):
    """A healthy (rare-key) corpus sails through the default budget and
    the guarded result equals the unguarded one."""
    from komodo_data_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
    )

    rows = [(d, f"g{d}_{k}") for d in range(20) for k in range(5)]
    # plant one near-dup pair: docs 100/101 share 5 of 5 grams
    rows += [(100, f"s{k}") for k in range(5)]
    rows += [(101, f"s{k}") for k in range(5)]
    posts = spark.createDataFrame(rows, ["doc_id", "g"]).cache()
    guarded = prefix_filtered_jaccard_pairs(posts, 7, 10).collect()
    open_ = prefix_filtered_jaccard_pairs(posts, 7, 10, budget=None).collect()
    assert sorted(map(tuple, guarded)) == sorted(map(tuple, open_))
    assert [(r["doc_i"], r["doc_j"]) for r in guarded] == [(100, 101)]


def test_token_packing_sequences_covers_every_token_once(spark, sf_dir):
    """The packing invariants (round-8 verdict ask #4): per doc, the
    slices are contiguous from 0 and sum to the doc's token count (every
    token placed exactly once); per (lang, seq), slices sum to exactly
    PACK_SEQ_LEN except the final sequence of each language."""
    from collections import defaultdict

    from komodo_data_spark.functions.text_features import tokens
    from komodo_data_spark.operators.pipeline_ops import (
        PACK_SEQ_LEN,
        token_packing_sequences,
    )
    from komodo_data_spark.sources.tables import load_table

    rows = token_packing_sequences(spark, sf_dir).collect()
    truth = {
        (r["lang"], r["doc_id"]): r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("lang", "doc_id", F.size(tokens()).alias("n"))
        .collect()
    }

    by_doc = defaultdict(list)
    by_seq = defaultdict(int)
    for r in rows:
        assert r["n_toks"] >= 1
        by_doc[(r["lang"], r["doc_id"])].append((r["start_tok"], r["n_toks"]))
        by_seq[(r["lang"], r["seq_id"])] += r["n_toks"]

    # every token of every doc exactly once, contiguously
    assert set(by_doc) == {k for k, n in truth.items() if n > 0}
    for key, slices in by_doc.items():
        slices.sort()
        pos = 0
        for start, n in slices:
            assert start == pos, (key, slices)
            pos += n
        assert pos == truth[key], (key, slices)

    # sequences are exactly full except the last one per language
    last = {}
    for (lang, seq_id), _ in by_seq.items():
        last[lang] = max(last.get(lang, -1), seq_id)
    for (lang, seq_id), total in by_seq.items():
        if seq_id == last[lang]:
            assert 1 <= total <= PACK_SEQ_LEN
        else:
            assert total == PACK_SEQ_LEN, (lang, seq_id, total)


def test_t_closeness_hand_computed(spark, tmp_path):
    """Global mix: A=4, B=2, C=1 of 7. Class (1,1) = {A,A,A,B} (S=4):
    TV = 0.5*(|3/4-4/7| + |1/4-2/7| + |0-1/7|) = 5/28 < 0.2 -> ok.
    Class (2,0) = {A,B,C} (S=3): TV = 0.5*(|1/3-4/7| + |1/3-2/7| +
    |1/3-1/7|) = 5/21 > 0.2 -> above_t."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from komodo_data_spark.operators.pipeline_ops import (
        customers_t_closeness,
    )

    segs = [
        (1, 1, 1500.0, "A"),
        (2, 1, 1600.0, "A"),
        (3, 1, 1700.0, "A"),
        (4, 1, 1800.0, "B"),
        (5, 2, 10.0, "A"),
        (6, 2, 20.0, "B"),
        (7, 2, 30.0, "C"),
    ]
    table = pa.table(
        {
            "c_custkey": pa.array([r[0] for r in segs], pa.int64()),
            "c_name": pa.array([f"C#{r[0]}" for r in segs], pa.string()),
            "c_nationkey": pa.array([r[1] for r in segs], pa.int32()),
            "c_acctbal": pa.array([r[2] for r in segs], pa.float64()),
            "c_mktsegment": pa.array([r[3] for r in segs], pa.string()),
        }
    )
    d = tmp_path / "tclose_sf"
    d.mkdir()
    pq.write_table(table, d / "customer.parquet")
    got = {
        (r["c_nationkey"], r["bal_band"]): r
        for r in customers_t_closeness(spark, str(d)).collect()
    }
    a, b = got[(1, 1)], got[(2, 0)]
    assert a["class_size"] == 4
    assert abs(a["tv_distance"] - 5 / 28) < 1e-15
    assert a["above_t"] is False
    assert b["class_size"] == 3
    assert abs(b["tv_distance"] - 5 / 21) < 1e-15
    assert b["above_t"] is True


def test_t_closeness_emd_hand_computed(spark, tmp_path):
    """Same 7-customer fixture, roles swapped: QI = (nation, segment),
    sensitive = ordered band. Global bands: {0: 3, 1: 4} of 7, m=2.
    Class (1,'A') = 3 members all in band 1: cum at band0 = 0*7-3*3 = -9,
    at band1 = 0 -> EMD = 9/(1*3*7) = 3/7. Class (2,'A') = 1 member in
    band 0: cum = 1*7-3*1 = 4 -> EMD = 4/7. Both above the 0.2 ceiling."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from komodo_data_spark.operators.pipeline_ops import (
        customers_t_closeness_emd,
    )

    segs = [
        (1, 1, 1500.0, "A"),
        (2, 1, 1600.0, "A"),
        (3, 1, 1700.0, "A"),
        (4, 1, 1800.0, "B"),
        (5, 2, 10.0, "A"),
        (6, 2, 20.0, "B"),
        (7, 2, 30.0, "C"),
    ]
    table = pa.table(
        {
            "c_custkey": pa.array([r[0] for r in segs], pa.int64()),
            "c_name": pa.array([f"C#{r[0]}" for r in segs], pa.string()),
            "c_nationkey": pa.array([r[1] for r in segs], pa.int32()),
            "c_acctbal": pa.array([r[2] for r in segs], pa.float64()),
            "c_mktsegment": pa.array([r[3] for r in segs], pa.string()),
        }
    )
    d = tmp_path / "emd_sf"
    d.mkdir()
    pq.write_table(table, d / "customer.parquet")
    got = {
        (r["c_nationkey"], r["c_mktsegment"]): r
        for r in customers_t_closeness_emd(spark, str(d)).collect()
    }
    a = got[(1, "A")]
    assert a["class_size"] == 3
    assert abs(a["emd_distance"] - 3 / 7) < 1e-15
    assert a["above_t"] is True
    b = got[(2, "A")]
    assert b["class_size"] == 1
    assert abs(b["emd_distance"] - 4 / 7) < 1e-15
    assert b["above_t"] is True


def test_simhash64_signature_matches_python(spark):
    """The 64-bit packing (bit k = bit (k%4) of md5 hex digit (k//4+1))
    must equal a direct Python mirror — the same md5-portability contract
    the DuckDB oracle relies on."""
    import hashlib

    from komodo_data_spark.operators.dedup import simhash_sig

    features = [f"tok{i}" for i in range(9)]
    posts = spark.createDataFrame(
        [(1, g) for g in features], ["doc_id", "g"]
    )
    got = simhash_sig(posts, "g", 64).collect()[0]["simhash"]

    votes = [0] * 64
    for g in features:
        h = hashlib.md5(g.encode()).hexdigest()
        for k in range(64):
            votes[k] += (int(h[k // 4], 16) >> (k % 4)) & 1
    sig = 0
    for k in range(64):
        if votes[k] * 2 > len(features):
            sig |= 1 << k
    # two's-complement fold to signed 64-bit, like Spark's BIGINT
    if sig >= 1 << 63:
        sig -= 1 << 64
    assert got == sig


def test_simhash_pigeonhole_complete_at_radius7(spark):
    """Pairs within Hamming<=7 of planted 64-bit signatures must ALL be
    found by the 8x8-bit pigeonhole join (completeness is structural:
    <=7 differing bits cannot touch all 8 segments)."""
    from komodo_data_spark.operators.dedup import simhash_pairs

    base = 0x0123_4567_89AB_CDEF
    sigs = [
        (0, base),
        (1, base ^ 0b1),                      # hamming 1
        (2, base ^ (0b1111111 << 13)),        # hamming 7, crosses segments
        (3, base ^ ((1 << 63) | 0b11)),       # hamming 3 incl. sign bit
        (4, ~base & 0xFFFF_FFFF_FFFF_FFFF),   # hamming 64: must NOT pair
    ]
    rows = [
        (i, s - (1 << 64) if s >= 1 << 63 else s) for i, s in sigs
    ]
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r["doc_i"], r["doc_j"]): r["hamming"]
        for r in simhash_pairs(sig, 64, 7, 0).collect()
    }
    # exact expectations, computed from the planted signatures
    import itertools

    want = {}
    vals = dict(sigs)
    for a, b in itertools.combinations(sorted(vals), 2):
        h = bin(vals[a] ^ vals[b]).count("1")
        if h <= 7:
            want[(a, b)] = h
    assert got == want

    # the multi-index probe join (the production text path: 16-bit
    # segments + 1-bit-correction probes) must find the SAME pairs
    got_mp = {
        (r["doc_i"], r["doc_j"]): r["hamming"]
        for r in simhash_pairs(sig, 64, 7, 1).collect()
    }
    assert got_mp == want


def test_dp_release_matches_python_laplace(spark, tmp_path):
    """Hand-mirror of the deterministic Laplace mechanism: recompute the
    md5-uniform inverse-CDF noise in plain Python for every cell, check
    the released counts (including the round and the clamp-at-zero) match
    the operator exactly. Round-10 update: the release densifies over the
    declared public grid (DP_PUBLIC_SOURCES x DP_PUBLIC_LANGS, noisy
    zeros for empty cells — the support-set-leak fix), so the fixture
    uses in-grid sources/langs, out-of-grid records are dropped, and the
    full grid is asserted."""
    import hashlib
    import math

    import pandas as pd

    from komodo_data_spark.operators.pipeline_ops import (
        DP_EPSILON,
        DP_PUBLIC_LANGS,
        DP_PUBLIC_SOURCES,
        _DP_UNIFORM_BITS,
        docs_dp_release,
    )

    docs = pd.DataFrame(
        {
            "doc_id": range(1, 8),
            "text": ["t"] * 7,
            # one big cell, one 1-doc cell (clamp candidate), one
            # out-of-grid lang (dropped from the release)
            "lang": ["en", "en", "en", "en", "de", None, None],
            "source": ["src1", "src1", "src1", "src1", "src2", "src3",
                       "src3"],
            "n_chars": [1] * 7,
        }
    )
    sf = tmp_path / "dp_sf"
    sf.mkdir()
    docs.to_parquet(sf / "documents.parquet")

    def released(source, lang, n):
        key = f"dp|{source or ''}|{lang or ''}"
        h = int(hashlib.md5(key.encode()).hexdigest()[: _DP_UNIFORM_BITS // 4], 16)
        u = (h + 0.5) / (1 << _DP_UNIFORM_BITS) - 0.5
        noise = -(1.0 / DP_EPSILON) * math.copysign(1.0, u) * math.log(
            1.0 - 2.0 * abs(u)
        )
        # Spark round(x, 0) is HALF_UP away from zero
        import decimal

        r = decimal.Decimal(n + noise).quantize(
            0, rounding=decimal.ROUND_HALF_UP
        )
        return max(int(r), 0)

    got = {
        (r["source"], r["lang"]): (r["n_released"], r["epsilon"])
        for r in docs_dp_release(spark, str(sf)).collect()
    }
    # the WHOLE declared grid is released — cell presence is
    # data-independent (src3's null-lang docs are out-of-grid: dropped)
    grid = {(s, lg) for s in DP_PUBLIC_SOURCES for lg in DP_PUBLIC_LANGS}
    assert set(got) == grid
    true_counts = {("src1", "en"): 4, ("src2", "de"): 1}
    for src, lg in grid:
        n = true_counts.get((src, lg), 0)
        assert got[(src, lg)] == (released(src, lg, n), DP_EPSILON)
        assert got[(src, lg)][0] >= 0


def test_ewma_hourly_matches_sequential_recurrence(spark, tmp_path):
    """The closed-form windowed EWMA must equal the literal sequential
    recurrence s_h = a*c_h + (1-a)*s_{h-1} (s_0 = c_0) computed in plain
    Python over the same zero-filled 24-slot grid, exactly (the dyadic
    alpha makes every intermediate exact)."""
    import pandas as pd

    from komodo_data_spark.operators.timeseries import (
        EWMA_ALPHA,
        events_ewma_hourly,
    )

    # one type, one day: hours 0,1,3 (hour 2 missing -> counts as 0)
    base = 1_706_313_600_000  # a UTC day boundary
    rows = []
    eid = 0
    for h, n in [(0, 3), (1, 1), (3, 5)]:
        for _ in range(n):
            eid += 1
            rows.append((eid, base + h * 3_600_000, 7, "click", 1.0, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts_ms", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pd.to_datetime(pdf.pop("ts_ms"), unit="ms")
    sf = tmp_path / "ewma_sf"
    sf.mkdir()
    pdf.to_parquet(sf / "events.parquet")

    got = {
        r["hour"]: r
        for r in events_ewma_hourly(spark, str(sf)).collect()
    }
    counts = {0: 3, 1: 1, 3: 5}
    s = None
    for h in range(24):
        c = counts.get(h, 0)
        s = c if s is None else EWMA_ALPHA * c + (1 - EWMA_ALPHA) * s
        assert got[h]["n_events"] == c
        assert got[h]["ewma"] == s, (h, got[h]["ewma"], s)
        assert got[h]["day_ms"] == base


def test_dp_sum_release_clamps_before_noise(spark, tmp_path):
    """The clamp must apply PER RECORD before the sum: an outlier order
    above the clamp contributes exactly DP_SUM_CLAMP, and the noise is the
    hand-recomputed Laplace(C/eps) draw for the group key."""
    import hashlib
    import math

    import pandas as pd

    from komodo_data_spark.operators.pipeline_ops import (
        DP_EPSILON,
        DP_SUM_CLAMP,
        _DP_UNIFORM_BITS,
        orders_dp_sum_release,
    )

    orders = pd.DataFrame(
        {
            "o_orderkey": [1, 2, 3],
            "o_custkey": [1, 1, 2],
            "o_orderstatus": ["F", "F", "O"],
            "o_totalprice": [100.0, 2_000_000.0, -50.0],  # outlier + negative
            "o_orderdate": ["1995-01-01"] * 3,
            "o_orderpriority": ["1-URGENT", "1-URGENT", "1-URGENT"],
            "o_clerk": ["c"] * 3,
            "o_shippriority": [0] * 3,
            "o_comment": ["x"] * 3,
        }
    )
    sf = tmp_path / "dpsum_sf"
    sf.mkdir()
    orders.to_parquet(sf / "orders.parquet")

    (row,) = orders_dp_sum_release(spark, str(sf)).collect()
    clamped_sum = 100.0 + DP_SUM_CLAMP + 0.0

    h = int(
        hashlib.md5(b"dpsum|1-URGENT").hexdigest()[: _DP_UNIFORM_BITS // 4], 16
    )
    u = (h + 0.5) / (1 << _DP_UNIFORM_BITS) - 0.5
    noise = (
        -(DP_SUM_CLAMP / DP_EPSILON)
        * math.copysign(1.0, u)
        * math.log(1.0 - 2.0 * abs(u))
    )
    assert row["o_orderpriority"] == "1-URGENT"
    assert abs(row["sum_released"] - (clamped_sum + noise)) < 1e-6
    assert row["clamp"] == DP_SUM_CLAMP


def test_dp_mean_release_budget_split_mirror(spark, tmp_path):
    """The noisy mean must be the hand-recomputed ratio of the eps/2 noisy
    clamped sum and the eps/2 noisy count (sequential composition), with
    the denominator clamped at 1 AFTER noising."""
    import hashlib
    import math

    import pandas as pd

    from komodo_data_spark.operators.events_analytics import (
        _HIST_HI,
        _HIST_LO,
    )
    from komodo_data_spark.operators.pipeline_ops import (
        DP_EPSILON,
        _DP_UNIFORM_BITS,
        events_dp_mean_release,
    )

    vals = [10.0, 250.0, -5.0]  # one above clamp, one below
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "user_id": [1, 1, 2],
            "event_type": ["view"] * 3,
            "value": vals,
            "props": ["{}"] * 3,
        }
    )
    pdf["ts"] = pd.to_datetime([1_706_000_000_000] * 3, unit="ms")
    sf = tmp_path / "dpmean_sf"
    sf.mkdir()
    pdf.to_parquet(sf / "events.parquet")

    def lap(key, scale):
        h = int(hashlib.md5(key.encode()).hexdigest()[: _DP_UNIFORM_BITS // 4], 16)
        u = (h + 0.5) / (1 << _DP_UNIFORM_BITS) - 0.5
        return -scale * math.copysign(1.0, u) * math.log(1.0 - 2.0 * abs(u))

    half = DP_EPSILON / 2.0
    s = sum(min(max(v, _HIST_LO), _HIST_HI) for v in vals)  # 10 + 100 + 0
    n = len(vals)
    want = (s + lap("dpmean_s|view", _HIST_HI / half)) / max(
        n + lap("dpmean_n|view", 1.0 / half), 1.0
    )
    (row,) = events_dp_mean_release(spark, str(sf)).collect()
    assert row["event_type"] == "view"
    assert abs(row["mean_released"] - want) < 1e-9

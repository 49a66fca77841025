"""Round-11 operator tests: candidate-volume overflow hardening, the
BPE cascade-conflict predicate, published/shared model fits (BPE +
IVFPQ), capped sf10 fallbacks for the guard-refusing detectors, and the
fused guard frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

# ---------------------------------------------------------------------------
# candidate-volume guard: overflow hardening (round-10 ADVICE, medium)
# ---------------------------------------------------------------------------


def test_candidate_volume_estimate_is_double_typed(spark):
    """The guard's Σ c_a·c_b fold must run in DOUBLE, not BIGINT: one hot
    key with >~3e9 rows per side wraps an int64 product under non-ANSI
    Spark, goes negative, and fails the guard OPEN on exactly the
    degenerate input it exists to refuse. Pin the estimate frame's type
    for both the self-join and two-sided forms."""
    from komodo_data_spark.operators.dedup import _candidate_volume_frame

    a = spark.createDataFrame([(1, "k"), (2, "k")], "doc_id long, g string")
    b = spark.createDataFrame([(3, "k")], "doc_id long, g string")
    for frame in (
        _candidate_volume_frame(a, ["g"]),
        _candidate_volume_frame(a, ["g"], b),
    ):
        assert isinstance(frame.schema["v"].dataType, DoubleType)
    # and the values are still the exact Σ c_a·c_b
    from komodo_data_spark.operators.dedup import join_candidate_volume

    assert join_candidate_volume(a, ["g"]) == 4
    assert join_candidate_volume(a, ["g"], b) == 2


def test_candidate_volume_double_fold_survives_int64_wrap(spark):
    """The exact expression shape the guard folds — sum(ca*cb) — overflows
    int64 at the adversarial density (4e9² per side): under ANSI (Spark 4
    default) the estimate CRASHES instead of classifying the refusal, and
    under non-ANSI it wraps negative and fails the guard OPEN. The double
    fold stays positive and monotone. This pins WHY the cast exists."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import ArithmeticException

    counts = spark.createDataFrame(
        [(4_000_000_000, 4_000_000_000)], "ca long, cb long"
    )
    with pytest.raises((ArithmeticException, Py4JJavaError)):
        counts.select(F.sum(F.col("ca") * F.col("cb")).alias("v")).first()
    ok = counts.select(
        F.sum(F.col("ca").cast("double") * F.col("cb")).alias("v")
    ).first()["v"]
    assert ok == pytest.approx(1.6e19)


# ---------------------------------------------------------------------------
# shared model fits: BPE publish/apply + session memo (round-10 verdict
# asks #1 and #5)
# ---------------------------------------------------------------------------


def test_bpe_fit_shared_memoizes(spark, sf_dir):
    """Two calls in one session return the SAME materialized frames — the
    four registry consumers share one fit."""
    from komodo_data_spark.operators.text_analysis import _bpe_fit_shared

    a = _bpe_fit_shared(spark, sf_dir)
    b = _bpe_fit_shared(spark, sf_dir)
    assert a[0] is b[0] and a[1] is b[1]


def test_bpe_published_apply_equals_refit(spark, sf_dir, tmp_path):
    """publish → apply_published reproduces the in-session train_apply
    exactly: the merge table IS the model."""
    from komodo_data_spark.operators.text_analysis import (
        text_bpe_apply_published,
        text_bpe_batched_train_apply,
        text_bpe_publish,
    )

    mp = str(tmp_path / "bpe_model")
    text_bpe_publish(spark, sf_dir, mp)
    pub = sorted(
        map(tuple, text_bpe_apply_published(spark, sf_dir, mp).collect())
    )
    ref = sorted(
        map(tuple, text_bpe_batched_train_apply(spark, sf_dir).collect())
    )
    assert pub == ref


def test_bpe_apply_published_requires_store(spark, sf_dir, tmp_path):
    """Missing model store fails fast with the precondition error, same
    contract as the ANN PQ store."""
    from komodo_data_spark.operators.text_analysis import (
        text_bpe_apply_published,
    )

    with pytest.raises(RuntimeError, match="never been published"):
        text_bpe_apply_published(spark, sf_dir, str(tmp_path / "missing"))


def test_bpe_merge_fold_reproduces_trainer_vocab(spark, sf_dir):
    """Folding the published merge table in rank order over the RAW
    wrapped vocabulary reproduces the trainer's final vocabulary exactly
    — the conflict-free-per-round property that makes a merge list a
    complete model (and what the cascade-conflict predicate protects)."""
    from komodo_data_spark.operators.text_analysis import (
        _bpe_apply_merge_table,
        _bpe_fit_shared,
        _bpe_wrapped_vocab,
    )

    cur, merges = _bpe_fit_shared(spark, sf_dir)
    vocab = _bpe_wrapped_vocab(spark, sf_dir)
    folded = _bpe_apply_merge_table(vocab, merges)
    a = sorted((r["word"], r["w"]) for r in cur.select("word", "w").collect())
    b = sorted(
        (r["word"], r["w"]) for r in folded.select("word", "w").collect()
    )
    assert a == b


def test_ivfpq_fit_shared_memoizes(spark, sf_dir):
    """knn_ivfpq_adc and knn_ivfpq_recall consume one index build."""
    from komodo_data_spark.operators.similarity import _ivfpq_fit_shared

    a = _ivfpq_fit_shared(spark, sf_dir)
    b = _ivfpq_fit_shared(spark, sf_dir)
    assert all(x is y for x, y in zip(a, b))


# ---------------------------------------------------------------------------
# capped degraded-but-running twins (round-10 verdict ask #2)
# ---------------------------------------------------------------------------


def test_pigeonhole_capped_runs_where_exact_refuses(spark):
    """On the degenerate all-identical-signature input the exact
    pigeonhole form refuses (CandidateVolumeError); the capped twin
    RUNS, dropping the hot buckets — 0 pairs here, since every bucket
    is one hot key — instead of melting down."""
    from komodo_data_spark.operators.dedup import (
        CandidateVolumeError,
        simhash_pairs,
    )

    sig = spark.createDataFrame(
        [(i, 0x0F0F0F0F) for i in range(100)],
        "doc_id long, simhash long",
    )
    with pytest.raises(CandidateVolumeError):
        simhash_pairs(sig, bits=32, hmax=2, r=0, budget=1000)
    out = simhash_pairs(
        sig, bits=32, hmax=2, r=0, key_cap=50, budget=None
    ).collect()
    assert out == []


def test_pigeonhole_capped_subset_and_equal_below_cap(spark):
    """Below the cap the capped twin equals the exact form exactly; the
    capped output is always a subset."""
    from komodo_data_spark.operators.dedup import simhash_pairs

    rows = [(i, 0b1010 << (i % 3)) for i in range(12)]
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    exact = sorted(
        map(
            tuple,
            simhash_pairs(
                sig, bits=32, hmax=2, r=0, budget=None
            ).collect(),
        )
    )
    capped = sorted(
        map(
            tuple,
            simhash_pairs(
                sig, bits=32, hmax=2, r=0, key_cap=1000, budget=None
            ).collect(),
        )
    )
    assert capped == exact


def test_fuzzy_capped_subset_of_exact(spark, sf_dir):
    """Capped PassJoin pairs ⊆ exact pairs on the real corpus, and at the
    default cap the sf0.001 corpus loses nothing."""
    from komodo_data_spark.operators.dedup import (
        dedup_fuzzy_prefix,
        dedup_fuzzy_prefix_capped,
    )

    exact = {
        (r["doc_i"], r["doc_j"])
        for r in dedup_fuzzy_prefix(spark, sf_dir).collect()
    }
    capped = {
        (r["doc_i"], r["doc_j"])
        for r in dedup_fuzzy_prefix_capped(spark, sf_dir).collect()
    }
    assert capped <= exact
    assert capped == exact  # default cap does not bite at sf0.001


def test_fuzzy_capped_drops_hot_template(spark, tmp_path):
    """A mass-duplicated title template saturates every PassJoin key; the
    capped form runs and returns only the pairs supported by a rare key
    (here: none), while a small cap-respecting cluster survives."""
    import pandas as pd

    docs = [(i, "the same exact title words here") for i in range(200)]
    docs += [(1000, "unique zebra quartz title one"),
             (1001, "unique zebra quartz title two")]
    pdf = pd.DataFrame(
        {
            "doc_id": [d[0] for d in docs],
            "text": [d[1] for d in docs],
            "lang": "en",
            "source": "s",
        }
    )
    sf = str(tmp_path / "sfx")
    import os

    os.makedirs(sf, exist_ok=True)
    pdf.to_parquet(os.path.join(sf, "documents.parquet"))
    from komodo_data_spark.operators.dedup import dedup_fuzzy_prefix_capped

    out = {
        (r["doc_i"], r["doc_j"])
        for r in dedup_fuzzy_prefix_capped(spark, sf, key_cap=16).collect()
    }
    assert (1000, 1001) in out
    assert all(i >= 1000 for i, _ in out)  # hot-template pairs dropped


def test_bpe_batched_depth_grows_linearly_in_rounds(spark, tmp_path):
    """Depth demonstration (round-10 verdict ask #4): on a diverse-
    vocabulary corpus the per-round conflict-free acceptance holds
    STEADY as rounds grow (measured ~4.5/round at topc=8: 14/28/43
    merges at 3/6/10 rounds — early rounds are inherently below the
    topc ceiling because every candidate is a pair over the 26-letter
    symbol space, so operand sharing is dense regardless of word
    diversity), i.e. merge depth is LINEAR in rounds at a multiple of
    the exact trainer's 1/round — which is what makes 32k merges
    reachable in ~thousands of rounds rather than 32k."""
    import os
    import random

    import pandas as pd

    rng = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    words = [
        "".join(rng.choice(alphabet) for _ in range(8)) for _ in range(400)
    ]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(40)))
        for i in range(60)
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": [d[0] for d in docs],
            "text": [d[1] for d in docs],
            "lang": "en",
            "source": "s",
        }
    )
    sf = str(tmp_path / "sfdiverse")
    os.makedirs(sf, exist_ok=True)
    pdf.to_parquet(os.path.join(sf, "documents.parquet"))
    from komodo_data_spark.operators.text_analysis import _bpe_fit_batched

    topc = 8
    _c, m3 = _bpe_fit_batched(spark, sf, rounds=3, topc=topc)
    _c, m6 = _bpe_fit_batched(spark, sf, rounds=6, topc=topc)
    n3, n6 = m3.count(), m6.count()
    # ≥ 4× the exact trainer's depth per round, and near-linear growth
    # (per-round acceptance does not collapse as the vocabulary evolves)
    assert n3 >= 4 * 3, n3
    assert n6 >= int(1.8 * n3), (n3, n6)


def test_kmeans_fit_shared_memoizes_and_feeds_ivfpq(spark, sf_dir):
    """kmeans_clusters, dedup_semantic, and the IVFPQ build consume one
    Lloyd fit; the IVFPQ coarse assignment IS the fit's final
    assignment (same argmin expression over the same cells)."""
    from komodo_data_spark.operators.similarity import (
        _ivfpq_fit,
        _kmeans_fit_shared,
    )

    a = _kmeans_fit_shared(spark, sf_dir)
    b = _kmeans_fit_shared(spark, sf_dir)
    assert a[0] is b[0] and a[1] is b[1]
    cells, picked, _cents, _codes = _ivfpq_fit(spark, sf_dir)
    assert cells is a[0]
    got = sorted(
        (r["vec_id"], r["cell_id"]) for r in picked.collect()
    )
    exp = sorted((r["vec_id"], r["cid"]) for r in a[1].collect())
    assert got == exp

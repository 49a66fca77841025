"""Oracle parity at sf0.001 for every registered recall twin (each query
whose name contains ``recall``) and for every nearest-neighbour search
(each ``knn_*`` query, ``embeddings_hard_negatives``, and
``retrieval_label_metrics``, which ranks ``knn_brute_force`` and
``knn_ivf``): each runs on Spark and its DuckDB oracle SQL, and the
results are compared exactly as ``scripts/check.py`` compares them (same
function, same canonicalisation)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from scripts.check import compare_query, oracle_connection

QUERIES = entry.queries()
ORACLES = entry.oracle_sql()
RECALL_TWINS = sorted(name for name in QUERIES if "recall" in name)
KNN_SEARCHES = sorted(
    name
    for name in QUERIES
    if "recall" not in name
    and (
        name.startswith("knn_")
        or name in ("embeddings_hard_negatives", "retrieval_label_metrics")
    )
)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = oracle_connection(sf_dir)
    yield c
    c.close()


def test_recall_twins_registered():
    # the twin families named in the dedup / multimodal / similarity packs
    assert len(RECALL_TWINS) >= 15


@pytest.mark.parametrize("name", RECALL_TWINS)
def test_recall_twin_matches_oracle(spark, con, sf_dir, name):
    assert name in ORACLES, f"{name}: recall twin without oracle SQL"
    ok, line = compare_query(spark, con, name, QUERIES[name], ORACLES[name], sf_dir)
    assert ok, line


def test_knn_searches_registered():
    # the ANN ladder: brute force, LSH, IVF, both multiprobes, PQ (refit
    # and published), IVF-PQ, hard negatives, label metrics
    assert len(KNN_SEARCHES) >= 10


@pytest.mark.parametrize("name", KNN_SEARCHES)
def test_knn_search_matches_oracle(spark, con, sf_dir, name):
    assert name in ORACLES, f"{name}: search without oracle SQL"
    ok, line = compare_query(spark, con, name, QUERIES[name], ORACLES[name], sf_dir)
    assert ok, line

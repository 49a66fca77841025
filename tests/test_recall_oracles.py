"""Oracle parity for every registered recall twin at sf0.001: each query
whose name contains ``recall`` runs on Spark and its DuckDB oracle SQL, and
the results are compared exactly as ``scripts/check.py`` compares them
(same function, same canonicalisation)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from scripts.check import compare_query, oracle_connection

QUERIES = entry.queries()
ORACLES = entry.oracle_sql()
RECALL_TWINS = sorted(name for name in QUERIES if "recall" in name)


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

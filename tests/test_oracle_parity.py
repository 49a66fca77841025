"""Oracle parity at sf0.001 for every oracle-paired registry query: each
runs on Spark and its DuckDB oracle SQL, and the results are compared
exactly as ``scripts/check.py`` compares them (same function, same
canonicalisation). A mismatch is a program defect, never an exemption.

The recall twins, the kNN searches and the tokenizer pipeline run the same
comparison under their family test names (``test_recall_oracles.py``,
``test_tokenizer_oracles.py``), whose registration guards pin those
families; this module takes every other paired query, in registry order,
so each paired query is compared once per suite."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from scripts.check import compare_query, oracle_connection
from tests.test_recall_oracles import KNN_SEARCHES, RECALL_TWINS
from tests.test_tokenizer_oracles import TOKENIZER_QUERIES

QUERIES = entry.queries()
ORACLES = entry.oracle_sql()
FAMILIES = {*RECALL_TWINS, *KNN_SEARCHES, *TOKENIZER_QUERIES}
PAIRED = [n for n in QUERIES if ORACLES.get(n) is not None and n not in FAMILIES]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = oracle_connection(sf_dir)
    yield c
    c.close()


def test_every_paired_query_is_compared():
    paired = {n for n in QUERIES if ORACLES.get(n) is not None}
    assert FAMILIES <= paired
    assert len(PAIRED) + len(FAMILIES) == len(paired) >= 248


@pytest.mark.parametrize("name", PAIRED)
def test_query_matches_oracle(spark, con, sf_dir, name):
    ok, line = compare_query(spark, con, name, QUERIES[name], ORACLES[name], sf_dir)
    assert ok, line

"""Oracle parity at sf0.001 for the tokenizer pipeline: the seven BPE
queries (trainer at both geometries, publish/apply, encode, packed
sequences) and the two whitespace-token packers. Each runs on Spark and
its DuckDB oracle SQL, compared exactly as ``scripts/check.py`` compares
them (same function, same canonicalisation). The BPE queries are listed
in registry order, so the two trainer geometries are each fitted once."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from scripts.check import compare_query, oracle_connection

QUERIES = entry.queries()
ORACLES = entry.oracle_sql()
TOKENIZER_QUERIES = [
    name
    for name in QUERIES
    if name.startswith("text_bpe_") and name != "text_bpe_token_estimate"
] + ["token_packing", "token_packing_sequences"]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = oracle_connection(sf_dir)
    yield c
    c.close()


def test_tokenizer_queries_registered():
    assert len(TOKENIZER_QUERIES) == 9, TOKENIZER_QUERIES


@pytest.mark.parametrize("name", TOKENIZER_QUERIES)
def test_tokenizer_query_matches_oracle(spark, con, sf_dir, name):
    ok, line = compare_query(spark, con, name, QUERIES[name], ORACLES[name], sf_dir)
    assert ok, line

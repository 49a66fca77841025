"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01 (override with argv[1]), compares row count, column names,
and order-insensitive values (floats rounded to 9 significant digits).

Usage: python scripts/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

EXPECTED_REGISTRY_COUNT = 255


def canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    cols = []
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            cols.append(
                [None if pd.isna(v) else float(f"{float(v):.9g}") for v in df[c]]
            )
        else:
            cols.append([None if pd.isna(v) else str(v) for v in df[c]])
    return sorted(zip(*cols), key=lambda t: tuple(map(str, t))) if cols else []


TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with every test table of ``sf_dir`` as a view."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare_query(spark, con, name, fn, oracle_sql, sf_dir) -> tuple[bool, str]:
    """Run one registry query on Spark and its oracle SQL on ``con``;
    returns (passed, report line). A rows-only query (no oracle SQL)
    passes when Spark runs."""
    try:
        got = fn(spark, sf_dir).toPandas()
    except Exception as exc:
        return False, f"FAIL {name}: spark error: {exc}"
    if oracle_sql is None:
        return True, f"okR  {name}: rows-only ({len(got)})"
    try:
        exp = con.execute(oracle_sql).fetchdf()
    except Exception as exc:
        return False, f"FAIL {name}: oracle error: {exc}"
    if sorted(got.columns) != sorted(exp.columns):
        return False, f"FAIL {name}: cols {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return False, f"FAIL {name}: rows {len(got)} vs {len(exp)}"
    g, x = canon(got), canon(exp)
    if g != x:
        bad = next(i for i, (a, b) in enumerate(zip(g, x)) if a != b)
        return False, (
            f"FAIL {name}: values differ; first at {bad}:\n"
            f"  spark : {g[bad]}\n  oracle: {x[bad]}"
        )
    return True, f"ok   {name}: {len(got)} rows match"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from komodo_data_spark.session import default_cores, get_spark

    cores = default_cores()
    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    # Backstop against a pack silently vanishing from the registry: the gate
    # must fail loudly if the query count ever shrinks.
    assert len(qs) >= EXPECTED_REGISTRY_COUNT, (
        f"registry shrank: {len(qs)} < {EXPECTED_REGISTRY_COUNT}"
    )
    # SURVEY §8.3 is generated from this registry; fail if it drifted so a
    # registry edit can never ship without the regenerated index.
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import gen_registry_block as grb

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    survey = open(os.path.join(repo, "SURVEY.md")).read()
    assert grb.registry_table() in survey, (
        "SURVEY.md §8.3 registry table is stale — "
        "run scripts/gen_registry_block.py in the same commit"
    )

    con = oracle_connection(sf_dir)
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # per-query cache hygiene (bench.py does the same): the recall
        # twins and prefix-join ops cache postings/truth frames per
        # invocation; without this, a 223-query sweep accumulates caches
        # and leans on LRU eviction.
        spark.catalog.clearCache()
        ok, line = compare_query(spark, con, name, fn, oracles.get(name), sf_dir)
        print(line)
        if not ok:
            failed.append(name)
    print(f"\n{len(failed)} failed" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

"""Hand-computed pins for the two-sample hypothesis-test ops: the exact
KS statistic on a 4-point arrangement and Welch's t on samples whose
moments are round numbers."""

from __future__ import annotations

import pyarrow as pa
import pytest
import pyarrow.parquet as pq


def _write_events(tmp_path, rows, name="ts_sf"):
    """rows: (event_id, event_type, value); ts spreads 1s apart."""
    ns = 1_000_000
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [i * 1000 * ns for i in range(len(rows))], pa.timestamp("ns")
            ),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array([r[1] for r in rows], pa.string()),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    d = tmp_path / name
    d.mkdir()
    pq.write_table(table, d / "events.parquet")
    return str(d)


def test_ks_test_hand_computed(spark, tmp_path):
    """A = {1, 2}, B = {2, 3}: CDF gaps are 1/2 at x=1, 1/2 at x=2, 0 at
    x=3 -> D = 0.5 over 3 distinct evaluation points; the 95% critical
    value at n=2/2 is 1.358... so the difference is not significant.
    Other event types in the table must be ignored."""
    from komodo_data_spark.operators.stats_ops import (
        KS_GROUP_A,
        KS_GROUP_B,
        events_ks_test,
    )

    rows = [
        (1, KS_GROUP_A, 1.0),
        (2, KS_GROUP_A, 2.0),
        (3, KS_GROUP_B, 2.0),
        (4, KS_GROUP_B, 3.0),
        (5, "signup", 100.0),  # ignored
    ]
    d = _write_events(tmp_path, rows)
    r = events_ks_test(spark, d).collect()
    assert len(r) == 1
    r = r[0]
    assert r["n_a"] == 2 and r["n_b"] == 2
    assert r["n_points"] == 3
    assert abs(r["ks_stat"] - 0.5) < 1e-12
    assert r["reject_at_95"] is False


def test_welch_ttest_hand_computed(spark, tmp_path):
    """A = {1,2,3} (mean 2, var 1), B = {2,4} (mean 3, var 2):
    t = -1/sqrt(1/3 + 1) = -sqrt(3)/2, and Welch-Satterthwaite
    df = (4/3)^2 / ((1/3)^2/2 + 1^2/1) = 32/19."""
    from komodo_data_spark.operators.stats_ops import (
        WELCH_GROUP_A,
        WELCH_GROUP_B,
        events_welch_ttest,
    )

    rows = [
        (1, WELCH_GROUP_A, 1.0),
        (2, WELCH_GROUP_A, 2.0),
        (3, WELCH_GROUP_A, 3.0),
        (4, WELCH_GROUP_B, 2.0),
        (5, WELCH_GROUP_B, 4.0),
    ]
    d = _write_events(tmp_path, rows)
    r = events_welch_ttest(spark, d).collect()
    assert len(r) == 1
    r = r[0]
    assert r["n_a"] == 3 and r["n_b"] == 2
    assert abs(r["mean_a"] - 2.0) < 1e-12
    assert abs(r["mean_b"] - 3.0) < 1e-12
    assert abs(r["var_a"] - 1.0) < 1e-12
    assert abs(r["var_b"] - 2.0) < 1e-12
    assert abs(r["t_stat"] - (-(3 ** 0.5) / 2)) < 1e-12
    assert abs(r["df_welch"] - 32.0 / 19.0) < 1e-12


def test_mannwhitney_u_hand_computed(spark, tmp_path):
    """A = {1, 2, 3} (click), B = {2, 3, 4} (purchase): pooled midranks
    are 1 / 2.5 / 2.5 / 4.5 / 4.5 / 6, so R_A = 1 + 2.5 + 4.5 = 8 and
    U_A = R_A - 3*4/2 = 2, U_B = 9 - 2 = 7. Tie correction: two tie
    groups of size 2 -> sum(t^3 - t) = 12; var = (9/12)*(7 - 12/30)
    = 4.95, z = (2 - 4.5)/sqrt(4.95) = -1.1237...; not significant at
    5%. Other event types in the table must be ignored."""
    import math

    from komodo_data_spark.operators.stats_ops import (
        KS_GROUP_A,
        KS_GROUP_B,
        events_mannwhitney_u,
    )

    rows = [
        (1, KS_GROUP_A, 1.0),
        (2, KS_GROUP_A, 2.0),
        (3, KS_GROUP_A, 3.0),
        (4, KS_GROUP_B, 2.0),
        (5, KS_GROUP_B, 3.0),
        (6, KS_GROUP_B, 4.0),
        (7, "view", 99.0),  # ignored
    ]
    d = _write_events(tmp_path, rows, name="mwu_sf")
    r = events_mannwhitney_u(spark, d).collect()[0]
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert r["u_a"] == 2.0 and r["u_b"] == 7.0
    var = (9.0 / 12.0) * (7.0 - 12.0 / 30.0)
    assert abs(r["z"] - (2.0 - 4.5) / math.sqrt(var)) < 1e-12
    assert r["significant_95"] is False


@pytest.mark.parametrize("name", ["events_ks_test", "events_mannwhitney_u"])
@pytest.mark.parametrize("only", ["a", "b"])
def test_one_sided_sample_matches_oracle(spark, tmp_path, name, only):
    """When one KS event type has no rows, every statistic that divides by
    its size is NULL, as in the DuckDB oracle — never a DIVIDE_BY_ZERO.
    The oracle answer for a purchase-only file is (0, 2, 2, NULL, NULL)
    for KS and (0, 2, 0.0, 0.0, NULL, NULL) for Mann–Whitney."""
    import duckdb

    from komodo_data_spark.operators import stats_ops as S
    from komodo_data_spark.registry import registered
    from scripts.check import compare_query

    kind = S.KS_GROUP_A if only == "a" else S.KS_GROUP_B
    rows = [(1, kind, 1.0), (2, kind, 2.0), (3, "view", 5.0)]
    d = _write_events(tmp_path, rows, name=f"only_{only}_sf")
    fn, oracle = registered()[name]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
    )
    ok, line = compare_query(spark, con, name, fn, oracle, d)
    con.close()
    assert ok, line
    r = fn(spark, d).collect()
    assert len(r) == 1 and r[0]["n_a" if only == "b" else "n_b"] == 0

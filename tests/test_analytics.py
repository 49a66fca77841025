"""The five reference analytics vs a DuckDB oracle running the translated
MySQL SQL on the same reference-shaped fixture (SURVEY.md §5 rebuild plan)."""

from __future__ import annotations

import duckdb
import pytest

from komodo_data_spark.operators import analytics as A
from komodo_data_spark.schemas import DATA_SCHEMA
from tests.conftest import assert_frames_match

JX = "CAST(json_extract_string(message,'{p}') AS DOUBLE)"


def jx(path: str) -> str:
    return JX.format(p=path)


def test_aggregate_interaction_type(spark, data_df, oracle):
    got = A.aggregate_interaction_type(data_df, 126, 1)
    exp = oracle.execute(
        f"""
        SELECT client_id, count(message) AS interaction_count
        FROM data
        WHERE {jx('$.interactionType')} = 1 AND session_id = 126
        GROUP BY client_id
        """
    ).fetchdf()
    assert_frames_match(got, exp)
    assert got.count() > 0


def test_aggregate_user(spark, data_df, oracle):
    got = A.aggregate_user(data_df, 126, 5)
    exp = oracle.execute(
        f"""
        SELECT replace(replace(replace(replace(entity_type,'0','head'),'1','left_hand'),
               '2','right_hand'),'3','spawned_entity') AS entity_type,
               user_count
        FROM (
            SELECT json_extract_string(message,'$.entityType') AS entity_type,
                   count(*) AS user_count
            FROM data
            WHERE {jx('$.clientId')} = 5 AND session_id = 126 AND type = 'sync'
            GROUP BY 1
        )
        """
    ).fetchdf()
    assert_frames_match(got, exp)
    names = {r["entity_type"] for r in got.collect()}
    assert names == {"head", "left_hand", "right_hand", "spawned_entity"}


@pytest.mark.parametrize("null_client_id", [False, True])
def test_user_energy(spark, data_pdf, data_df, oracle, null_client_id):
    """The reference lags over the rows its filter on session and
    ``message.clientId`` keeps; with ``null_client_id`` every third of
    those rows has a NULL ``client_id`` column, which must not change
    which row is "previous"."""
    if null_client_id:
        pdf = data_pdf.astype({"client_id": object})
        named = pdf.index[
            (pdf["session_id"] == 126) & (pdf["type"] == "sync") & (pdf["client_id"] == 5)
        ]
        pdf.loc[named[::3], "client_id"] = None
        data_df = spark.createDataFrame(pdf, schema=DATA_SCHEMA)
        oracle = duckdb.connect()
        oracle.register("data", pdf)
    got = A.user_energy(data_df, 126, 5, 0)
    exp = oracle.execute(
        f"""
        SELECT client_id, session_id, timestamp, entity_type, energy
        FROM (
            SELECT client_id, session_id, ts AS timestamp,
                   json_extract_string(message,'$.entityType') AS entity_type,
                   SQRT(POWER({jx('$.pos.x')} - LAG({jx('$.pos.x')},1) OVER (ORDER BY seq),2)
                      + POWER({jx('$.pos.y')} - LAG({jx('$.pos.y')},1) OVER (ORDER BY seq),2)
                      + POWER({jx('$.pos.z')} - LAG({jx('$.pos.z')},1) OVER (ORDER BY seq),2))
                   / (ts - LAG(ts,1) OVER (ORDER BY seq)) AS energy
            FROM data
            WHERE {jx('$.clientId')} = 5 AND session_id = 126 AND type = 'sync'
        )
        WHERE energy IS NOT NULL AND CAST(entity_type AS DOUBLE) = 0
        ORDER BY entity_type, energy DESC
        """
    ).fetchdf()
    assert_frames_match(got, exp)
    # entity_type surfaces as the raw JSON text '0' (test_user_energy.py:70-74)
    assert {r["entity_type"] for r in got.collect()} == {"0"}


def test_drawing_pattern(spark, data_df, oracle):
    got = A.drawing_pattern(data_df)
    exp = oracle.execute(
        """
        SELECT ts AS timestamp,
               count(json_extract_string(message,'$.strokeType')) AS stroke_type_count,
               count(json_extract_string(message,'$.strokeId')) AS stroke_id_count
        FROM data
        GROUP BY ts
        """
    ).fetchdf()
    assert_frames_match(got, exp)
    # NULL-skipping: some draw rows omit strokeType, so the two counts differ
    totals = got.groupBy().sum("stroke_type_count", "stroke_id_count").collect()[0]
    assert totals[0] < totals[1]


@pytest.mark.parametrize("scale_mode", [False, True])
def test_user_proximity(spark, data_df, oracle, scale_mode):
    got = A.user_proximity(data_df, diameter=1.0, scale_mode=scale_mode)
    exp = oracle.execute(
        f"""
        SELECT ts, client_id, position, distance, capture_id, session_id
        FROM (
            SELECT client_id, json_extract_string(message,'$.pos') AS position,
                   SQRT(POWER({jx('$.pos.x')} - LAG({jx('$.pos.x')},1) OVER w,2)
                      + POWER({jx('$.pos.y')} - LAG({jx('$.pos.y')},1) OVER w,2)
                      + POWER({jx('$.pos.z')} - LAG({jx('$.pos.z')},1) OVER w,2)) AS distance,
                   capture_id, session_id, ts
            FROM data
            WHERE ts IN (SELECT ts FROM data GROUP BY ts HAVING count(DISTINCT client_id) > 1)
            WINDOW w AS ({'PARTITION BY session_id ' if scale_mode else ''}ORDER BY ts, position)
        ) t
        WHERE distance > 0 AND distance < 1.0
        """
    ).fetchdf()
    assert_frames_match(got, exp)
    assert got.count() > 0

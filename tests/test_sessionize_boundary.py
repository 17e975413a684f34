"""Microsecond-exact sessionize gap parity: batch == DuckDB.

All fixture gaps sit within a second of the 30-minute threshold
(1799.9 / 1800.0 / 1800.000001 / 1800.9 s). Whole-second epoch
truncation (the round-2 latent bug) reads a 1800.000001 s gap as 1800
and misses the session break; this test pins the boundary on both
implementations: events.sessionize (batch windows) and the DuckDB
oracle formulation (epoch_us).
"""

import datetime

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from rustac_spark.events import sessionize

T0 = datetime.datetime(2024, 1, 1, 0, 0, 0, 300000)
# per-event offsets (seconds); breaks must occur exactly where gap>1800
GAPS = [0.0, 1799.9, 1800.0, 1800.000001, 1800.9]
# expected session membership after each gap decision:
#   e0, e1 (1799.9 ≤ 1800: same), e2 (1800.0 not > 1800: same),
#   e3 (1800.000001 > 1800: break), e4 (1800.9 > 1800: break)
EXPECTED_N_EVENTS = [3, 1, 1]


def _events():
    rows, t = [], T0
    for i, g in enumerate(GAPS):
        t = t + datetime.timedelta(seconds=g)
        rows.append((1, t, float(i + 1)))
    return rows


def test_batch_boundary(spark):
    df = spark.createDataFrame(_events(), "user_id long, ts timestamp, "
                               "value double")
    got = sorted((r["session_id"], r["n_events"])
                 for r in sessionize(df).collect())
    assert got == [(i + 1, n) for i, n in enumerate(EXPECTED_N_EVENTS)]


def test_duckdb_oracle_boundary(tmp_path):
    """The oracle SQL formulation (epoch_us + BIGINT cast) agrees."""
    pdf = pd.DataFrame(_events(), columns=["user_id", "ts", "value"])
    path = str(tmp_path / "ev.parquet")
    pq.write_table(pa.Table.from_pandas(pdf), path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{path}')")
    rows = con.execute("""
        WITH l AS (
          SELECT user_id, ts,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      > 1800 * 1000000
                 THEN 1 ELSE 0 END nw
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (SELECT user_id, ts,
                CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  session_id
              FROM l)
        SELECT session_id, count(*) n FROM s GROUP BY 1 ORDER BY 1
    """).fetchall()
    assert [n for _, n in rows] == EXPECTED_N_EVENTS
    assert all(isinstance(sid, int) for sid, _ in rows)

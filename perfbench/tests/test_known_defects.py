"""Reproducers for engine defects the benchmark found.

Each is an expected failure while the defect stands. Once the engine is
fixed the test passes, the strict marker turns that into a failure, and
the query goes back into the benchmark's timed set (``headline.QUERIES``).
Starts one local Spark session.

    python3 -m pytest perfbench/tests/test_known_defects.py -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import tempfile

import duckdb
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import engine  # noqa: E402
import headline  # noqa: E402

sys.path.insert(0, engine.REPO)

T0 = dt.datetime(2024, 1, 1, 10, 0, 0)
# one user: a gap of 1800.5 s (over the 30-minute limit), then 1799 s
EVENTS = pa.table(
    {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([7, 7, 7], pa.int64()),
        "ts": pa.array(
            [T0, T0 + dt.timedelta(seconds=1800.5), T0 + dt.timedelta(seconds=3599.5)], pa.timestamp("us")
        ),
        "value": pa.array([1.0, 2.0, 3.0]),
    }
)


def _oracle_sessions() -> int:
    from lineage_store_database_management_system_spark import workloads

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.register("events", EVENTS)
    return len(con.execute(workloads.ORACLE[list(headline.KNOWN_DEFECT)[0]]).fetchall())


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    saved = os.environ.get("TMPDIR"), tempfile.tempdir
    scratch = engine.Scratch(str(tmp_path_factory.mktemp("spark")))
    session, _ = engine.start(scratch, False, "perfbench-known-defects")
    yield session
    engine.stop(session)
    scratch.close()
    if saved[0] is None:
        os.environ.pop("TMPDIR", None)
    else:
        os.environ["TMPDIR"] = saved[0]
    tempfile.tempdir = saved[1]


def test_oracle_starts_a_session_after_a_gap_over_the_limit():
    assert _oracle_sessions() == 2


@pytest.mark.xfail(strict=True, reason=headline.KNOWN_DEFECT["ext_events_sessions"])
def test_sessionize_starts_a_session_after_a_gap_over_the_limit(spark):
    from lineage_store_database_management_system_spark.operators import windows

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(EVENTS.to_pandas())
    assert windows.sessionize(df, gap_minutes=30, tiebreak_col="event_id").count() == 2

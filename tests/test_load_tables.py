"""session.load_tables: schemas read from parquet footers, no Spark job.

``spark.read.parquet`` infers a schema with one Spark job per path;
load_tables reads every footer on the driver instead. The tests pin the
mechanism with counts (jobs run, schemas, footer metadata), not clocks:
the schemas must equal what inference gives, a fresh session must load
with zero jobs, and a session without the classic JVM surface must still
load the same tables through the inferring read.
"""

from __future__ import annotations

import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from jetro_spark.session import _FAN_META, TABLES, load_tables

from conftest import SF_DIR
from test_localrel import _break_jvm_surface

DATA = os.path.dirname(SF_DIR)
SF_DIRS = sorted(glob.glob(os.path.join(DATA, "sf*")))
SF001 = os.path.join(DATA, "sf0.01")
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _inferred(spark, sf_dir: str, name: str):
    spark.conf.set(NANOS, "true")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema


def _schema(name: str, df):
    # events carries the added event_time column on top of the file's
    return (df.drop("event_time") if name == "events" else df).schema


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_footer_schemas_equal_inferred_schemas(spark, sf_dir):
    fresh = spark.newSession()
    tables = load_tables(fresh, sf_dir, register=False)
    assert set(tables) == set(TABLES)
    for name, df in tables.items():
        assert _schema(name, df) == _inferred(fresh, sf_dir, name), name
        md = pq.ParquetFile(os.path.join(sf_dir, f"{name}.parquet")).metadata
        assert _FAN_META[df] == (md.num_row_groups, md.num_rows), name


def test_fresh_session_load_runs_no_job(spark):
    sc = spark.sparkContext
    group = f"load_tables_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "load_tables job count")
    try:
        tables = load_tables(spark.newSession(), SF001, register=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(tables) == len(TABLES)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_without_classic_surface_schemas_are_the_same(spark, monkeypatch):
    want = {n: _schema(n, df) for n, df in
            load_tables(spark.newSession(), SF001, register=False).items()}
    _break_jvm_surface(monkeypatch)
    got = {n: _schema(n, df) for n, df in
           load_tables(spark.newSession(), SF001, register=False).items()}
    assert got == want


def test_nanosecond_timestamps_load_on_a_fresh_session(spark, tmp_path):
    """TIMESTAMP(NANOS) columns convert only under nanosAsLong, so the
    footer schemas must be read after load_tables sets it."""
    ts = [1_700_000_000_123_456_789, 1_700_000_001_000_000_000]
    pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("ns")),
                             "value": [1.0, 2.0]}),
                   str(tmp_path / "events.parquet"))
    fresh = spark.newSession()
    fresh.conf.unset(NANOS)
    events = load_tables(fresh, str(tmp_path), register=False)["events"]
    assert dict(events.dtypes) == {"ts": "bigint", "value": "double",
                                   "event_time": "timestamp"}
    assert [r["ts"] for r in events.orderBy("ts").collect()] == ts

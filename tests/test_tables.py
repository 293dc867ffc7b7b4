"""``tables.load`` resolves each table's schema once per file signature:
a repeat load runs no Spark job, a rewritten table is re-inferred, and
``events.ts`` arrives as a micros ``timestamp`` whichever unit it was
written in, on the inferring load and on the cached one."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from architrave_project_apache_nifi_spark import tables


def _write(sf_dir, name: str, cols: dict) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))


def _jobs_of(spark, fn) -> tuple[object, int]:
    """``fn()``'s result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"tables-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "tables.load")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the listener bus: let it catch up
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_runs_no_job(spark, tmp_path):
    _write(tmp_path, "region", {"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]})
    first, jobs_first = _jobs_of(spark, lambda: tables.load(spark, "region", str(tmp_path)))
    second, jobs_second = _jobs_of(spark, lambda: tables.load(spark, "region", str(tmp_path)))
    assert jobs_first >= 1  # the count sees the inference job
    assert jobs_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())
    # a fresh relation per load: a self-join of two loads resolves
    other = tables.load(spark, "region", str(tmp_path)).withColumnRenamed("r_name", "o_name")
    assert second.join(other, "r_regionkey").count() == 2


def test_rewritten_table_is_reinferred(spark, tmp_path):
    _write(tmp_path, "nation", {"n_nationkey": [0, 1]})
    assert tables.load(spark, "nation", str(tmp_path)).columns == ["n_nationkey"]
    _write(tmp_path, "nation", {"n_nationkey": [0, 1, 2], "n_name": ["A", "B", "C"]})
    df = tables.load(spark, "nation", str(tmp_path))
    assert df.columns == ["n_nationkey", "n_name"]
    assert sorted(r.n_name for r in df.collect()) == ["A", "B", "C"]


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_arrives_as_micros_timestamp(spark, tmp_path, unit):
    nanos = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    ts = pa.array(nanos, pa.timestamp("ns"))
    if unit == "us":
        ts = ts.cast(pa.timestamp("us"), safe=False)  # truncates, as the writer would
    _write(tmp_path, "events", {"event_id": [1, 2], "ts": ts})
    want = [n // 1000 for n in nanos]
    for _ in range(2):  # the inferring load, then the cached one
        df = tables.load(spark, "events", str(tmp_path))
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = df.orderBy("event_id").select(F.unix_micros("ts").alias("us")).collect()
        assert [r.us for r in got] == want

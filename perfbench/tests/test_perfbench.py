"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench/tests -q

The store-oracle test starts a small local Spark session (about 30 s).
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [ROOT]

from perfbench import gen, oracle, run, workloads  # noqa: E402
from perfbench.trace import Tracer, spark_totals  # noqa: E402

SMALL = gen.CdcShape(n_keys=60, events_per_file=120, snapshot=True, zipf_s=1.1,
                     delete_frac=0.05, late_frac=0.05)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


def test_cdc_generator_is_seeded(tmp_path):
    a = gen.cdc_files(str(tmp_path / "a"), gen.BULK, 3, seed=7)
    b = gen.cdc_files(str(tmp_path / "b"), gen.BULK, 3, seed=7)
    c = gen.cdc_files(str(tmp_path / "c"), gen.BULK, 3, seed=8)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert a.late_seq == b.late_seq and a.late_seq
    assert a.deletes > 0
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_headline_tables_are_seeded(tmp_path):
    gen.headline_tables(str(tmp_path / "a"), seed=7)
    gen.headline_tables(str(tmp_path / "b"), seed=7)
    gen.headline_tables(str(tmp_path / "c"), seed=8)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    from architrave_project_apache_nifi_spark.tables import TABLES

    assert sorted(os.listdir(tmp_path / "a")) == sorted(f"{t}.parquet" for t in TABLES)


def test_late_events_precede_the_committed_change(tmp_path):
    load = gen.cdc_files(str(tmp_path), SMALL, 4, seed=3)
    last: dict[str, int] = {}
    late = set(load.late_seq)
    for f in load.files:
        committed = dict(last)
        for line in open(f):
            e = json.loads(line)
            key = next(c["value"] for c in e["columns"] if c["name"] == "ProductID")
            if e["cdc_sequence_id"] in late:
                assert e["timestamp"] < committed[key]
            elif e["type"] == "delete":
                last.pop(key)
            else:
                last[key] = e["timestamp"]


class _FakeRun:
    def __init__(self, work: str) -> None:
        self.tracer = Tracer("t", True)
        self.work, self.artifact = work, {}

    def event_log(self) -> dict:
        return {"jobs": {}, "stages": {}}

    def setup_s_of(self, name: str) -> float:
        return 0.0


def test_every_metric_is_declared_with_its_unit(tmp_path):
    bench = _bench()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert run.E2E_UNITS == e2e
    layers = {m["name"] for m in bench["per_layer"]}
    fake = _FakeRun(str(tmp_path))
    with fake.tracer.span("query", entry="q1_pricing_summary") as s:
        pass
    emitted = set(spark_totals(fake.event_log(), []))
    emitted |= set(workloads._headline_layers(fake, {}, s, 1.0))
    emitted |= set(workloads._stream_layers(fake, [], s, 1.0))
    from architrave_project_apache_nifi_spark.streaming.history_store import Scd2Store

    emitted |= set(workloads._StoreAccounting(fake, Scd2Store).metrics(1))
    emitted |= {f"query.{n}.{k}" for n in workloads.HEADLINE for k in ("s", "jobs")}
    emitted |= {"session.start_s", "session.warmup_s", "trace.overhead_frac",
                "cdc.generate_s", "cdc.input_bytes", "cdc.events", "read.set_s",
                "read.all_s", "read.as_of_s", "read.current_s",
                "store.quarantined_rows", "store.bytes_per_event"}
    assert emitted == layers
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    args = argparse.Namespace(workload="cdc_bulk", seed=0, seconds=1, trace=0)
    r = run.Run(args, work)
    session = run.build_session(r, trace_on=False)
    yield session
    run.stop_session(session)


def _drop_one_closed_row(store: str) -> None:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for d, _, names in os.walk(store):
        for n in sorted(names):
            if not n.endswith(".parquet"):
                continue
            path = os.path.join(d, n)
            t = pq.read_table(path)
            closed = pc.equal(t["is_current"], "N").to_pylist()
            if any(closed):
                i = closed.index(True)
                # INT96 timestamps, as Spark wrote them
                pq.write_table(pa.concat_tables([t.slice(0, i), t.slice(i + 1)]), path,
                               use_deprecated_int96_timestamps=True)
                # the local filesystem would reject the rewritten file's checksum
                crc = os.path.join(d, f".{n}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
                return
    raise AssertionError("store has no closed rows")


def test_store_oracle_flags_a_corrupted_store(spark, tmp_path):
    from architrave_project_apache_nifi_spark.sources import cdc
    from architrave_project_apache_nifi_spark.streaming.history_store import Scd2Store
    from architrave_project_apache_nifi_spark.streaming.scd2_stream import run_scd2_stream_from

    load = gen.cdc_files(str(tmp_path / "in"), SMALL, 4, seed=5)
    hist = str(tmp_path / "hist")
    q = run_scd2_stream_from(
        spark, cdc.read_envelope_stream(spark, str(tmp_path / "in"), 1), hist,
        str(tmp_path / "ckpt"), handle_deletes=True, late_policy="quarantine",
    )
    q.awaitTermination()
    con = oracle.connect()
    oracle.scd2_expected(con, load.files, True, load.late_seq)
    assert oracle.history_mismatches(con, Scd2Store(hist).read_all(spark).toArrow()) == 0

    broken = str(tmp_path / "broken")
    shutil.copytree(hist, broken)
    _drop_one_closed_row(broken)
    assert oracle.history_mismatches(con, Scd2Store(broken).read_all(spark).toArrow()) == 1

"""Streaming SCD2: file-stream CDC → foreachBatch merge → parquet store.

Covers the reference's end-to-end flow (SURVEY.md §3.2-3.3) including
restart/replay (checkpoint = DistributedMapCache binlog position)."""

from __future__ import annotations

from pyspark.sql import functions as F

from architrave_project_apache_nifi_spark.sources import cdc
from architrave_project_apache_nifi_spark.sources.sinks import read_history
from architrave_project_apache_nifi_spark.streaming.scd2_stream import run_scd2_stream


def _expect_golden(hist_rows):
    by_key = {}
    for r in hist_rows:
        by_key.setdefault(r.ProductID, []).append(r)
    assert set(by_key) == {9012, 9013, 9014}
    v = sorted(by_key[9014], key=lambda r: r.valid_from)
    assert [x.Price for x in v] == [56.0, 100.0, 120.0]
    assert [x.is_current for x in v] == ["N", "N", "Y"]
    assert v[0].valid_until == v[1].valid_from
    assert v[1].valid_until == v[2].valid_from


def test_stream_single_batch(spark, tmp_path):
    src = tmp_path / "in"
    cdc.write_golden_scenario(str(src), files=1)
    q = run_scd2_stream(
        spark, str(src), str(tmp_path / "hist"), str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    hist = read_history(spark, str(tmp_path / "hist"))
    assert hist.count() == 5
    _expect_golden(hist.collect())


def test_stream_multi_microbatch_and_restart(spark, tmp_path):
    """Events split across 4 files, 1 file per trigger — versions of one
    key straddle micro-batches; then a second run over the same source
    (availableNow + same checkpoint) must be a no-op (no duplicates)."""
    src = tmp_path / "in"
    cdc.write_golden_scenario(str(src), files=4)
    hist_path, ckpt = str(tmp_path / "hist"), str(tmp_path / "ckpt")
    q = run_scd2_stream(spark, str(src), hist_path, ckpt, max_files_per_trigger=1)
    q.awaitTermination()
    hist = read_history(spark, hist_path)
    assert hist.count() == 5
    _expect_golden(hist.collect())
    assert hist.filter((F.col("is_current") == "Y") & F.col("valid_until").isNotNull()).count() == 0

    # restart with same checkpoint: no new files → store unchanged
    q2 = run_scd2_stream(spark, str(src), hist_path, ckpt, max_files_per_trigger=1)
    q2.awaitTermination()
    assert read_history(spark, hist_path).count() == 5


def _snapshot_files(root):
    """(path → (size, mtime)) for DATA files under root; _SUCCESS/.crc
    markers are bookkeeping the store may GC with their directory."""
    out = {}
    for dirpath, _dirs, files in __import__("os").walk(root):
        for f in files:
            if not f.startswith("part-") or f.endswith(".crc"):
                continue
            p = __import__("os").path.join(dirpath, f)
            st = __import__("os").stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def test_stream_incremental_store_never_rewrites_closed_batches(spark, tmp_path):
    """The scale contract of the incremental store: committed closed-row
    partitions are immutable — later micro-batches must not rewrite
    (or even touch) them, and per-batch I/O is O(current + delta)."""
    import json
    import os

    from architrave_project_apache_nifi_spark.sources.cdc import (
        _envelope,
    )

    src = tmp_path / "in"
    cdc.write_golden_scenario(str(src), files=4)
    hist_path, ckpt = str(tmp_path / "hist"), str(tmp_path / "ckpt")
    q = run_scd2_stream(spark, str(src), hist_path, ckpt, max_files_per_trigger=1)
    q.awaitTermination()
    def closed_files():
        return {
            p: sig for p, sig in _snapshot_files(hist_path).items()
            if "__bucket=closed" in p
        }

    before = closed_files()
    assert before, "expected committed closed batches after the golden run"
    # keys 9012/9013/9014 hash to distinct buckets (2/4/14 of 16), so the
    # next batch (touching only 9014) must carry 9012's and 9013's
    # current-bucket files forward BY REFERENCE — byte-identical
    current_before = {
        p: sig
        for p, sig in _snapshot_files(hist_path).items()
        if "__bucket=" in p and "__bucket=14" not in p and p not in before
    }
    assert current_before, "expected untouched current buckets to exist"

    # a new event arrives (another price update to 9014) → one more batch
    with open(src / "events_9999.json", "w") as fh:
        fh.write(json.dumps(_envelope(9, "update", 9014, price=140.0)) + "\n")
    q2 = run_scd2_stream(spark, str(src), hist_path, ckpt, max_files_per_trigger=1)
    q2.awaitTermination()

    after = closed_files()
    for path, sig in before.items():
        assert after.get(path) == sig, f"closed file rewritten: {path}"
    assert len(after) > len(before)  # the new batch added its own closed dir

    current_after = _snapshot_files(hist_path)
    for path, sig in current_before.items():
        assert current_after.get(path) == sig, f"untouched bucket rewritten: {path}"

    hist = read_history(spark, hist_path).collect()
    v = sorted((r for r in hist if r.ProductID == 9014), key=lambda r: r.valid_from)
    assert [x.Price for x in v] == [56.0, 100.0, 120.0, 140.0]
    assert [x.is_current for x in v] == ["N", "N", "N", "Y"]
    assert v[2].valid_until == v[3].valid_from


def test_stream_handle_deletes_closes_chain(spark, tmp_path):
    """handle_deletes=True: the golden scenario's delete of 9013
    (dropped by the reference, README.md:28) soft-closes its current
    row at the delete timestamp; everything else is unchanged."""
    src = tmp_path / "in"
    cdc.write_golden_scenario(str(src), files=2)
    q = run_scd2_stream(
        spark, str(src), str(tmp_path / "hist"), str(tmp_path / "ckpt"),
        handle_deletes=True,
    )
    q.awaitTermination()
    hist = read_history(spark, str(tmp_path / "hist"))
    rows = hist.collect()
    assert len(rows) == 5
    r9013 = [r for r in rows if r.ProductID == 9013]
    assert len(r9013) == 1
    assert r9013[0].is_current == "N"
    assert r9013[0].valid_until is not None  # closed at the delete ts
    v9014 = sorted((r for r in rows if r.ProductID == 9014), key=lambda r: r.valid_from)
    assert [x.is_current for x in v9014] == ["N", "N", "Y"]
    cur = {r.ProductID for r in rows if r.is_current == "Y"}
    assert cur == {9012, 9014}


def test_stream_corrupt_store_fails_batch_instead_of_rebuilding(spark, tmp_path):
    """A store whose manifest points at unreadable data must FAIL the
    micro-batch (error propagates out of the streaming query) — never
    silently rebuild history from the current batch alone."""
    import json
    import os
    import shutil

    import pytest

    src = tmp_path / "in"
    cdc.write_golden_scenario(str(src), files=1)
    hist_path, ckpt = str(tmp_path / "hist"), str(tmp_path / "ckpt")
    q = run_scd2_stream(spark, str(src), hist_path, ckpt)
    q.awaitTermination()
    assert read_history(spark, hist_path).count() == 5

    # corrupt: delete the current snapshot the manifest references
    with open(os.path.join(hist_path, "_MANIFEST.json")) as fh:
        version = json.load(fh)["version"]
    shutil.rmtree(os.path.join(hist_path, f"v={version}"))

    with open(src / "events_9999.json", "w") as fh:
        from architrave_project_apache_nifi_spark.sources.cdc import _envelope

        fh.write(json.dumps(_envelope(9, "update", 9014, price=140.0)) + "\n")
    q2 = run_scd2_stream(spark, str(src), hist_path, str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="(?i)path does not exist|PATH_NOT_FOUND"):
        q2.awaitTermination()


def test_store_compaction_folds_closed_batches(spark, tmp_path):
    """compact_closed: per-micro-batch closed dirs fold into one
    segment; rows are identical before and after; a later compaction
    does NOT rewrite the first segment (size-tiered: I/O is O(delta
    since last compaction)); and sub-threshold calls are no-ops."""
    import glob
    import json
    import os

    from architrave_project_apache_nifi_spark.sources.cdc import _envelope
    from architrave_project_apache_nifi_spark.streaming.history_store import (
        Scd2Store,
    )

    src = tmp_path / "in"
    cdc.write_golden_scenario(str(src), files=4)
    hist_path, ckpt = str(tmp_path / "hist"), str(tmp_path / "ckpt")
    q = run_scd2_stream(spark, str(src), hist_path, ckpt, max_files_per_trigger=1)
    q.awaitTermination()

    store = Scd2Store(hist_path)
    before_rows = sorted(map(tuple, read_history(spark, hist_path).collect()))
    n_pending = len(store.manifest()["closed_batches"])
    assert n_pending >= 2

    assert store.compact_closed(spark, min_batches=n_pending + 1) is False  # no-op
    assert store.compact_closed(spark, min_batches=2) is True

    m = store.manifest()
    assert m["closed_batches"] == []
    assert len(m["closed_segments"]) == 1
    assert not glob.glob(os.path.join(hist_path, "v=*", "__bucket=closed"))
    assert sorted(map(tuple, read_history(spark, hist_path).collect())) == before_rows

    seg1_files = {
        p: sig for p, sig in _snapshot_files(hist_path).items() if "seg=" in p
    }
    assert seg1_files

    # more micro-batches, then a second compaction: segment 1 untouched.
    # (strictly increasing mtimes: the file source orders discovery by
    # modification time, and the engine's contract is in-order batches)
    now = __import__("time").time()
    for i, (seq, price) in enumerate(((9, 130.0), (10, 140.0))):
        fp = src / f"events_99{seq:02d}.json"
        with open(fp, "w") as fh:
            fh.write(json.dumps(_envelope(seq, "update", 9014, price=price)) + "\n")
        os.utime(fp, (now + i, now + i))
    q2 = run_scd2_stream(spark, str(src), hist_path, ckpt, max_files_per_trigger=1)
    q2.awaitTermination()
    assert store.compact_closed(spark, min_batches=2) is True
    m2 = store.manifest()
    assert len(m2["closed_segments"]) == 2
    after = _snapshot_files(hist_path)
    for p, sig in seg1_files.items():
        assert after.get(p) == sig, f"prior segment rewritten: {p}"

    hist = read_history(spark, hist_path).collect()
    v = sorted((r for r in hist if r.ProductID == 9014), key=lambda r: r.valid_from)
    assert [x.Price for x in v] == [56.0, 100.0, 120.0, 130.0, 140.0]
    assert [x.is_current for x in v] == ["N", "N", "N", "N", "Y"]


def test_store_compaction_crash_between_flip_and_delete_is_safe(spark, tmp_path):
    """A compaction that crashed after the manifest flip but before
    deleting the folded closed partitions leaves orphans: the store reads
    correctly (no duplicates — orphans are unreferenced) and the next
    compaction sweeps them."""
    import os

    from architrave_project_apache_nifi_spark.streaming.history_store import (
        Scd2Store,
    )

    src = tmp_path / "in"
    cdc.write_golden_scenario(str(src), files=4)
    hist_path, ckpt = str(tmp_path / "hist"), str(tmp_path / "ckpt")
    q = run_scd2_stream(spark, str(src), hist_path, ckpt, max_files_per_trigger=1)
    q.awaitTermination()
    store = Scd2Store(hist_path)
    before_rows = sorted(map(tuple, read_history(spark, hist_path).collect()))
    folded = list(store.manifest()["closed_batches"])

    # simulate the crash: run compaction with the closed-partition
    # deletes intercepted, as if they never happened
    orig_rmtree = __import__("shutil").rmtree
    kept: list[str] = []

    def fake_rmtree(p, ignore_errors=False):
        if os.path.basename(p) == "__bucket=closed":
            kept.append(p)
            return  # "crash": deletes never ran
        orig_rmtree(p, ignore_errors=ignore_errors)

    import architrave_project_apache_nifi_spark.streaming.history_store as hs

    hs.shutil.rmtree = fake_rmtree
    try:
        assert store.compact_closed(spark, min_batches=2) is True
    finally:
        hs.shutil.rmtree = orig_rmtree
    assert kept, "expected folded dirs to be left behind by the fake crash"
    for p in kept:
        assert os.path.exists(p)

    # unreferenced orphans do not duplicate rows
    assert sorted(map(tuple, read_history(spark, hist_path).collect())) == before_rows
    # the next maintenance call sweeps them (even below min_batches)
    assert store.compact_closed(spark, min_batches=99) is False
    for p in kept:
        assert not os.path.exists(p), f"orphan not swept: {p}"
    assert sorted(map(tuple, read_history(spark, hist_path).collect())) == before_rows


def test_stream_auto_compaction(spark, tmp_path):
    """compact_every wires maintenance into the sink: after the run the
    closed side is segments (+ at most compact_every-1 pending dirs) and
    the history is exact."""
    import os

    src = tmp_path / "in"
    cdc.write_golden_scenario(str(src), files=4)
    hist_path = str(tmp_path / "hist")
    q = run_scd2_stream(
        spark, str(src), hist_path, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    # run via the pluggable entry to pass compact_every
    q.awaitTermination()
    from architrave_project_apache_nifi_spark.sources.cdc import (
        read_envelope_stream,
    )
    from architrave_project_apache_nifi_spark.streaming.scd2_stream import (
        run_scd2_stream_from,
    )
    import json as _json
    from architrave_project_apache_nifi_spark.sources.cdc import _envelope

    now = __import__("time").time()
    for i, (seq, price) in enumerate(((9, 130.0), (10, 140.0), (11, 150.0))):
        fp = src / f"events_99{seq:02d}.json"
        with open(fp, "w") as fh:
            fh.write(_json.dumps(_envelope(seq, "update", 9014, price=price)) + "\n")
        os.utime(fp, (now + i, now + i))
    stream = read_envelope_stream(spark, str(src), max_files_per_trigger=1)
    q2 = run_scd2_stream_from(
        spark, stream, hist_path, str(tmp_path / "ckpt"), compact_every=2,
    )
    q2.awaitTermination()

    from architrave_project_apache_nifi_spark.streaming.history_store import (
        Scd2Store,
    )

    m = Scd2Store(hist_path).manifest()
    assert m["closed_segments"], "auto-compaction never ran"
    assert len(m["closed_batches"]) < 2
    hist = read_history(spark, hist_path).collect()
    v = sorted((r for r in hist if r.ProductID == 9014), key=lambda r: r.valid_from)
    assert [x.Price for x in v] == [56.0, 100.0, 120.0, 130.0, 140.0, 150.0]


def test_store_rebucket_rescales_and_keeps_merging(spark, tmp_path):
    """rebucket: rows identical after the rescale, the manifest's bucket
    count wins over the caller's, and later micro-batches merge
    correctly against the re-bucketed snapshot (touched-bucket math uses
    the new count)."""
    import glob
    import json
    import os
    import time as _time

    from architrave_project_apache_nifi_spark.sources.cdc import _envelope
    from architrave_project_apache_nifi_spark.streaming.history_store import (
        Scd2Store,
    )

    src = tmp_path / "in"
    cdc.write_golden_scenario(str(src), files=1)
    hist_path, ckpt = str(tmp_path / "hist"), str(tmp_path / "ckpt")
    q = run_scd2_stream(spark, str(src), hist_path, ckpt)
    q.awaitTermination()

    store = Scd2Store(hist_path, key_col="ProductID")
    before = sorted(map(tuple, read_history(spark, hist_path).collect()))
    store.rebucket(spark, 4)
    m = store.manifest()
    assert m["n_buckets"] == 4
    assert all("r4s" in str(v) for v in m["current_buckets"].values())
    assert sorted(map(tuple, read_history(spark, hist_path).collect())) == before
    # all current rows live under the rebucket address space now (the
    # closed partitions stay where their batches wrote them)
    buckets = glob.glob(os.path.join(hist_path, "v=*", "__bucket=*"))
    assert all("r4" in b for b in buckets if not b.endswith("=closed"))

    # a later batch merges against the re-bucketed snapshot even though
    # the stream caller still passes the default n_buckets=16
    now = _time.time()
    fp = src / "events_9999.json"
    with open(fp, "w") as fh:
        fh.write(json.dumps(_envelope(9, "update", 9014, price=140.0)) + "\n")
    os.utime(fp, (now + 1, now + 1))
    q2 = run_scd2_stream(spark, str(src), hist_path, ckpt)
    q2.awaitTermination()

    hist = read_history(spark, hist_path).collect()
    v = sorted((r for r in hist if r.ProductID == 9014), key=lambda r: r.valid_from)
    assert [x.Price for x in v] == [56.0, 100.0, 120.0, 140.0]
    assert [x.is_current for x in v] == ["N", "N", "N", "Y"]
    assert Scd2Store(hist_path).manifest()["n_buckets"] == 4


def test_store_time_travel_snapshots(spark, tmp_path):
    """retain_snapshots=K: each retained flip stays readable exactly as
    it was committed — including data directories a later batch
    superseded; seqs outside the window raise; default retention (1)
    keeps today's GC behavior."""
    import json
    import os
    import time as _time

    import pytest

    from architrave_project_apache_nifi_spark.sources.cdc import _envelope
    from architrave_project_apache_nifi_spark.streaming.history_store import (
        Scd2Store,
    )
    from architrave_project_apache_nifi_spark.streaming.scd2_stream import (
        run_scd2_stream_from,
    )
    from architrave_project_apache_nifi_spark.sources.cdc import (
        read_envelope_stream,
    )

    src = tmp_path / "in"
    cdc.write_golden_scenario(str(src), files=4)
    hist_path, ckpt = str(tmp_path / "hist"), str(tmp_path / "ckpt")
    stream = read_envelope_stream(spark, str(src), max_files_per_trigger=1)
    q = run_scd2_stream_from(
        spark, stream, hist_path, ckpt, retain_snapshots=4,
    )
    q.awaitTermination()

    store = Scd2Store(hist_path)
    seqs = store.snapshots()
    assert len(seqs) >= 3  # several non-empty micro-batches committed

    def archived(st):
        return sorted(int(f[:-5]) for f in os.listdir(st._snapshots_dir()))

    # the on-disk archive is exactly the retained window
    assert archived(store) == seqs
    # snapshots grow monotonically in row count, and the latest equals
    # the direct read
    counts = [store.read_snapshot(spark, s).count() for s in seqs]
    assert counts == sorted(counts)
    assert counts[-1] == read_history(spark, hist_path).count() == 5
    # an earlier snapshot shows 9014 BEFORE its second price update
    mid = seqs[-2]
    mid_rows = read_history(spark, hist_path, as_of=mid).collect()
    assert len(mid_rows) < 5
    # out-of-window seq raises
    with pytest.raises(KeyError):
        store.read_snapshot(spark, seqs[0] - 1)

    # retention survives a maintenance flip by a default-retention writer
    # (ratchet), and compaction keeps snapshot-referenced batch dirs
    default_store = Scd2Store(hist_path, key_col="ProductID")
    if len(default_store.manifest()["closed_batches"]) >= 2:
        assert default_store.compact_closed(spark, min_batches=2) is True
        assert default_store.manifest()["retain_snapshots"] == 4
        # every retained snapshot still reads exactly (folded dirs kept)
        store2 = Scd2Store(hist_path)
        for s, c in zip(seqs, counts):
            if s in store2.snapshots():
                assert store2.read_snapshot(spark, s).count() == c
        # one more flip pushes the oldest seq out of the window: its
        # archive must be pruned from disk
        default_store.rebucket(spark, default_store.n_buckets)
        assert archived(store2) == store2.snapshots()
        assert seqs[0] not in store2.snapshots()


def test_store_rebucket_replay_is_safe(spark, tmp_path):
    """A rebucket retried with no intervening commit (the post-flip
    crash-replay shape) must not destroy the snapshot: the second run
    reads the committed dirs while writing fresh ones (seq-tagged
    address space), and rows stay identical."""
    from architrave_project_apache_nifi_spark.streaming.history_store import (
        Scd2Store,
    )

    src = tmp_path / "in"
    cdc.write_golden_scenario(str(src), files=1)
    hist_path = str(tmp_path / "hist")
    q = run_scd2_stream(spark, str(src), hist_path, str(tmp_path / "ckpt"))
    q.awaitTermination()
    store = Scd2Store(hist_path, key_col="ProductID")
    before = sorted(map(tuple, read_history(spark, hist_path).collect()))
    store.rebucket(spark, 4)
    store.rebucket(spark, 4)  # replay: same count, no intervening commit
    assert sorted(map(tuple, read_history(spark, hist_path).collect())) == before
    assert store.manifest()["n_buckets"] == 4


def test_read_current_empty_after_all_keys_deleted(spark, tmp_path):
    """A store whose live keys were ALL soft-deleted is a legitimate
    committed state: read_current returns an EMPTY frame with the
    history schema instead of raising."""
    import json

    from architrave_project_apache_nifi_spark.sources.cdc import _envelope
    from architrave_project_apache_nifi_spark.streaming.history_store import (
        Scd2Store,
    )

    src = tmp_path / "in"
    events = [
        _envelope(1, "insert", 9012),
        _envelope(2, "delete", 9012),
        _envelope(3, "insert", 9013),
        _envelope(4, "delete", 9013),
        _envelope(5, "insert", 9014),
        _envelope(6, "delete", 9014),
    ]
    src.mkdir()
    with open(src / "events.json", "w") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")
    hist_path = str(tmp_path / "hist")
    q = run_scd2_stream(
        spark, str(src), hist_path, str(tmp_path / "ckpt"), handle_deletes=True,
    )
    q.awaitTermination()
    store = Scd2Store(hist_path)
    cur = store.read_current(spark)
    assert cur.count() == 0
    assert "ProductID" in cur.columns  # real history schema, not a stub
    hist = read_history(spark, hist_path)
    assert hist.count() == 3
    assert hist.filter(F.col("is_current") == "Y").count() == 0


def test_stream_quarantine_late_policy(spark, tmp_path):
    """late_policy='quarantine': after the golden history exists, the
    SAME stream (same checkpoint — the store/checkpoint pair) delivers
    one genuinely-new update and one REPLAYED old event (ts older than
    the key's current valid_from — binlog replay shape). The fresh
    update merges; the replay lands in the quarantine side-channel,
    never in the history, and the chain stays healthy."""
    import json as _json

    from architrave_project_apache_nifi_spark.operators.scd2 import (
        scd2_invariants,
    )
    from architrave_project_apache_nifi_spark.sources.cdc import _envelope

    src = tmp_path / "in"
    cdc.write_golden_scenario(str(src), files=1)
    hist_path, ckpt = str(tmp_path / "hist"), str(tmp_path / "ckpt")
    run_scd2_stream(
        spark, str(src), hist_path, ckpt, late_policy="quarantine"
    ).awaitTermination()

    with open(src / "later.json", "w") as fh:
        # seq 4 ts precedes 9014's current valid_from (seq 5) -> late;
        # seq 9 is a fresh on-time update
        fh.write(_json.dumps(_envelope(4, "update", 9014, price=999.0)) + "\n")
        fh.write(_json.dumps(_envelope(9, "update", 9014, price=140.0)) + "\n")
    run_scd2_stream(
        spark, str(src), hist_path, ckpt, late_policy="quarantine"
    ).awaitTermination()

    hist = read_history(spark, hist_path)
    v = sorted(
        (r for r in hist.collect() if r.ProductID == 9014),
        key=lambda r: r.valid_from,
    )
    assert [x.Price for x in v] == [56.0, 100.0, 120.0, 140.0]
    assert [x.is_current for x in v] == ["N", "N", "N", "Y"]
    assert scd2_invariants(hist, "ProductID").isEmpty()

    qdir = hist_path.rstrip("/") + "_quarantine"
    quarantined = spark.read.parquet(qdir + "/batch=1")
    qrows = quarantined.collect()
    assert len(qrows) == 1 and qrows[0]["Price"] == 999.0

    # rerun over the same source+checkpoint: no new files, store and
    # quarantine both unchanged
    n_hist = hist.count()
    run_scd2_stream(
        spark, str(src), hist_path, ckpt, late_policy="quarantine"
    ).awaitTermination()
    assert read_history(spark, hist_path).count() == n_hist
    assert spark.read.parquet(qdir + "/batch=1").count() == 1


def test_stream_rejects_unknown_late_policy(spark, tmp_path):
    import pytest as _pytest

    src = tmp_path / "in"
    cdc.write_golden_scenario(str(src), files=1)
    q = run_scd2_stream(
        spark, str(src), str(tmp_path / "h"), str(tmp_path / "c"),
        late_policy="splice",
    )
    with _pytest.raises(Exception, match="late_policy"):
        q.awaitTermination()
        raise RuntimeError("stream should have failed")


def test_splice_quarantine_folds_late_rows_into_fresh_store(spark, tmp_path):
    """Offline splice maintenance: a GENUINELY late change (ts strictly
    between two existing versions, fresh sequence id) quarantined by
    the stream is folded into a rewritten store with the interval chain
    spliced around it; a quarantined exact REPLAY of an existing
    version converges (deduped) instead of forking the chain."""
    import json as _json

    from architrave_project_apache_nifi_spark.operators.scd2 import (
        scd2_invariants,
    )
    from architrave_project_apache_nifi_spark.sources.cdc import _envelope
    from architrave_project_apache_nifi_spark.streaming.scd2_stream import (
        splice_quarantine,
    )

    src = tmp_path / "in"
    cdc.write_golden_scenario(str(src), files=1)
    hist_path, ckpt = str(tmp_path / "hist"), str(tmp_path / "ckpt")
    run_scd2_stream(
        spark, str(src), hist_path, ckpt, late_policy="quarantine"
    ).awaitTermination()

    # between seq 4 (price 100) and seq 5 (price 120): ts = seq4 + 30 s
    between = _envelope(4, "update", 9014, price=111.0)
    between["timestamp"] += 30_000
    between["cdc_sequence_id"] = 99
    replay = _envelope(4, "update", 9014, price=100.0)  # exact twin of v2
    with open(src / "later.json", "w") as fh:
        fh.write(_json.dumps(between) + "\n")
        fh.write(_json.dumps(replay) + "\n")
    run_scd2_stream(
        spark, str(src), hist_path, ckpt, late_policy="quarantine"
    ).awaitTermination()

    # both rows were late → quarantined, history unchanged
    assert read_history(spark, hist_path).count() == 5

    out = str(tmp_path / "hist2")
    n = splice_quarantine(spark, hist_path, out)
    assert n == 2
    hist2 = read_history(spark, out)
    v = sorted(
        (r for r in hist2.collect() if r.ProductID == 9014),
        key=lambda r: r.valid_from,
    )
    assert [x.Price for x in v] == [56.0, 100.0, 111.0, 120.0]
    assert [x.is_current for x in v] == ["N", "N", "N", "Y"]
    assert v[1].valid_until == v[2].valid_from  # spliced, not overlapped
    assert v[2].valid_until == v[3].valid_from
    assert scd2_invariants(hist2, "ProductID").isEmpty()


def test_stream_bulk_replay_throughput_harness(spark, tmp_path):
    """cdc.write_replay (the bench's streaming-throughput corpus) must
    merge cleanly: every key ends with exactly one current row, total
    version count equals the event count, and the chain invariants
    hold — so the bench's rows/sec figure measures a CORRECT pipeline,
    not a degenerate one."""
    from architrave_project_apache_nifi_spark.operators.scd2 import scd2_invariants

    src = tmp_path / "in"
    n = cdc.write_replay(str(src), n_events=1200, n_keys=150, files=4)
    assert n == 1200
    q = run_scd2_stream(
        spark, str(src), str(tmp_path / "hist"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    hist = read_history(spark, str(tmp_path / "hist"))
    assert hist.count() == 1200
    cur = hist.filter(F.col("is_current") == "Y")
    assert cur.count() == 150
    assert scd2_invariants(hist, "ProductID").count() == 0
    # deterministic corpus: re-generating writes byte-identical files
    src2 = tmp_path / "in2"
    cdc.write_replay(str(src2), n_events=1200, n_keys=150, files=4)
    a = sorted(p.read_bytes() for p in src.iterdir())
    b = sorted(p.read_bytes() for p in src2.iterdir())
    assert a == b


def test_store_commit_failed_write_is_replayable(spark, tmp_path):
    """A commit whose one write fails mid-job must hold the protocol:
    the manifest never flips (the batch's partial directory stays an
    unreferenced orphan), the store keeps serving the previous version,
    and a clean retry of the SAME batch id commits exactly once."""
    import pytest
    from pyspark.sql import functions as F

    from architrave_project_apache_nifi_spark.streaming.history_store import (
        Scd2Store,
    )

    hist = str(tmp_path / "hist")
    store = Scd2Store(hist, key_col="ProductID", n_buckets=4)
    schema = "ProductID INT, v STRING, is_current STRING"
    store.commit(spark.createDataFrame([(1, "a", "Y"), (2, "b", "Y")], schema), 0)
    m0 = store.manifest()
    rows0 = sorted(map(tuple, store.read_current(spark).collect()))

    # batch 1: its closed row is poisoned (evaluates to a raise inside
    # the write job); its current rows are valid and their tasks may
    # land first — either way the store must stay unflipped
    @F.udf("string")
    def boom(v):
        raise RuntimeError("injected write failure")

    merged1 = spark.createDataFrame(
        [(1, "a2", "Y"), (1, "a", "N"), (2, "b", "Y")], schema
    )
    poisoned = merged1.withColumn(
        "v", F.when(F.col("is_current") == "N", boom("v")).otherwise(F.col("v"))
    )
    with pytest.raises(Exception, match="injected write failure"):
        store.commit(poisoned, 1)

    # protocol held: no flip, previous version still serves
    assert store.manifest() == m0
    assert sorted(map(tuple, store.read_current(spark).collect())) == rows0

    # clean retry of the same batch id commits exactly once
    store.commit(merged1, 1)
    m1 = store.manifest()
    assert m1["version"] == 1 and m1["seq"] == m0["seq"] + 1
    assert m1["closed_batches"] == [1]
    assert sorted(map(tuple, store.read_all(spark).collect())) == sorted(
        [(1, "a", "N"), (1, "a2", "Y"), (2, "b", "Y")]
    )


def test_store_commits_of_few_or_no_rows(spark, tmp_path):
    """A batch that closes no rows writes no closed partition, and
    ``closed_batches`` lists only written ones; a store whose commits
    wrote no rows at all reads as an empty frame with the history
    columns (the manifest's schema — no data file carries one)."""
    import os

    from architrave_project_apache_nifi_spark.streaming.history_store import (
        Scd2Store,
    )

    schema = "ProductID INT, v STRING, is_current STRING"
    store = Scd2Store(str(tmp_path / "cur"), key_col="ProductID", n_buckets=4)
    store.commit(spark.createDataFrame([(1, "a", "Y"), (2, "b", "Y")], schema), 0)
    assert store.manifest()["closed_batches"] == []
    assert not os.path.exists(os.path.join(store.path, "v=0", "__bucket=closed"))
    assert store.read_all(spark).count() == 2

    empty = Scd2Store(str(tmp_path / "empty"), key_col="ProductID", n_buckets=4)
    empty.commit(spark.createDataFrame([], schema), 0)
    m = empty.manifest()
    assert m["closed_batches"] == [] and m["current_buckets"] == {}
    assert not os.path.exists(os.path.join(empty.path, "v=0"))  # swept
    for df in (empty.read_all(spark), empty.read_current(spark)):
        assert df.columns == ["ProductID", "v", "is_current"]
        assert df.count() == 0


def test_merge_batch_job_budget(spark, tmp_path):
    """A quarantine micro-batch against an existing store asks Spark one
    touched-bucket question and one late-split question, then writes:
    the whole second batch (probes, quarantine write, merge and commit)
    stays inside a fixed job budget. Inputs are in-memory frames, so
    the count covers the merge only, not a source's listing jobs."""
    import json
    import uuid

    from architrave_project_apache_nifi_spark.sources.cdc import _envelope
    from architrave_project_apache_nifi_spark.streaming.commitdirs import (
        read_committed,
    )
    from architrave_project_apache_nifi_spark.streaming.scd2_stream import (
        _merge_batch,
    )

    hist = str(tmp_path / "hist")

    def merge(events, batch_id):
        raw = spark.createDataFrame([(json.dumps(e),) for e in events], "value STRING")
        _merge_batch(
            spark, cdc.parse_envelope(raw), hist, "ProductID", "change_ts",
            batch_id, n_buckets=4, late_policy="quarantine",
        )

    merge([_envelope(1, "insert", 9012), _envelope(3, "insert", 9014),
           _envelope(5, "update", 9014, price=120.0)], 0)
    sc = spark.sparkContext
    group = f"merge-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "second micro-batch")
    try:
        # seq 4 precedes 9014's current valid_from (seq 5): late
        merge([_envelope(4, "update", 9014, price=999.0),
               _envelope(9, "update", 9014, price=140.0),
               _envelope(10, "update", 9012, price=1.0)], 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # 13 under the test session's conf: 3 for the touched aggregate,
    # 4 for the late aggregate (each AQE exchange is a job), 1 for the
    # quarantine write, 5 for the merge + commit
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 13, jobs

    late = read_committed(spark, hist + "_quarantine").collect()
    assert [r.Price for r in late] == [999.0]
    cur = read_history(spark, hist).filter(F.col("is_current") == "Y")
    assert sorted((r.ProductID, r.Price) for r in cur.collect()) == [
        (9012, 1.0), (9014, 140.0)
    ]

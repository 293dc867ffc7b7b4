"""Property-based SCD2 tests (hypothesis): for ARBITRARY change streams
and ARBITRARY micro-batch boundaries,

1. the incremental merge chain (`scd2_apply` per batch) equals the
   one-shot batch build (`scd2_build`) — micro-batch boundaries cannot
   change the result (the determinism the reference lacks, SURVEY.md
   §2.8 Bugs 1-3);
2. the SCD2 invariants hold: exactly one current row per key,
   half-open interval chaining, NULL valid_until only on current rows.

Examples are kept small (Spark round-trip per example) but the event
shapes — duplicate timestamps, many versions of one key, single-event
keys — are exactly the corners the golden fixture cannot enumerate.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from architrave_project_apache_nifi_spark.operators.scd2 import (
    scd2_apply,
    scd2_build,
)

# an event = (key ∈ 4 values, ts-minute ∈ 0..9, price); seq = list index
# breaks ties deterministically, like the reference's cdc.sequence.id
_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),
        st.integers(min_value=0, max_value=9),
        st.sampled_from([10.0, 20.0, 30.0]),
    ),
    min_size=1,
    max_size=12,
)


def _df(spark, events):
    rows = [
        (k, p, dt.datetime(2026, 1, 1, 8, m), i)
        for i, (k, m, p) in enumerate(events)
    ]
    return spark.createDataFrame(
        rows, "ProductID INT, Price DOUBLE, change_ts TIMESTAMP, seq LONG"
    )


def _norm(df):
    rows = [
        (r.ProductID, r.Price, r.valid_from, r.valid_until, r.is_current, r.seq)
        for r in df.collect()
    ]
    # None valid_until (current rows) sorts first; equality stays exact
    return sorted(
        rows, key=lambda t: (t[0], t[1], t[2], t[3] is not None, t[3] or dt.datetime.min, t[4], t[5])
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(events=_EVENTS, cut=st.integers(min_value=0, max_value=11), data=st.data())
def test_apply_chain_equals_rebuild(spark, events, cut, data):
    # batches must arrive in event-time order (the engine orders within
    # a batch by (ts, seq); cross-batch late data is the watermark's
    # job) — so cut the (ts, seq)-sorted stream, not the raw list
    events = sorted(events, key=lambda e: e[1])
    rows = [
        (k, p, dt.datetime(2026, 1, 1, 8, m), i)
        for i, (k, m, p) in enumerate(events)
    ]
    schema = "ProductID INT, Price DOUBLE, change_ts TIMESTAMP, seq LONG"
    cut = min(cut, len(rows))
    cut2 = data.draw(st.integers(min_value=cut, max_value=len(rows)))
    parts = [rows[:cut], rows[cut:cut2], rows[cut2:]]

    rebuilt = scd2_build(
        spark.createDataFrame(rows, schema), "ProductID", "change_ts", ("seq",)
    )

    hist = None
    for part in parts:
        if not part:
            continue
        batch = spark.createDataFrame(part, schema)
        if hist is None:
            hist = scd2_build(batch, "ProductID", "change_ts", ("seq",))
        else:
            hist = scd2_apply(hist, batch, "ProductID", "change_ts", ("seq",))
    assert hist is not None
    assert _norm(hist) == _norm(rebuilt)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(events=_EVENTS)
def test_build_invariants(spark, events):
    hist = scd2_build(_df(spark, events), "ProductID", "change_ts", ("seq",))
    rows = hist.collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.ProductID, []).append(r)
    for k, versions in by_key.items():
        current = [r for r in versions if r.is_current == "Y"]
        assert len(current) == 1, f"key {k}: {len(current)} current rows"
        assert current[0].valid_until is None
        chain = sorted(versions, key=lambda r: (r.valid_from, r.seq))
        for a, b in zip(chain, chain[1:]):
            assert a.valid_until == b.valid_from, f"key {k}: broken chain"
            assert a.is_current == "N"


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(events=_EVENTS, dels=st.lists(st.booleans(), min_size=12, max_size=12),
       cut=st.integers(min_value=0, max_value=11))
def test_tombstone_apply_chain_equals_rebuild(spark, events, dels, cut):
    """Soft deletes at arbitrary positions: the incremental merge chain
    with tombstone-carrying batches equals the one-shot rebuild, and a
    key whose LAST event is a tombstone has no current row while one
    that is re-inserted after a delete restarts a fresh chain."""
    events = sorted(events, key=lambda e: e[1])
    rows = [
        (k, p, dt.datetime(2026, 1, 1, 8, m), i, dels[i])
        for i, (k, m, p) in enumerate(events)
    ]
    schema = (
        "ProductID INT, Price DOUBLE, change_ts TIMESTAMP, seq LONG, tomb BOOLEAN"
    )
    cut = min(cut, len(rows))
    parts = [rows[:cut], rows[cut:]]

    rebuilt = scd2_build(
        spark.createDataFrame(rows, schema), "ProductID", "change_ts", ("seq",),
        tombstone_col="tomb",
    )
    hist = None
    for part in parts:
        if not part:
            continue
        batch = spark.createDataFrame(part, schema)
        if hist is None:
            hist = scd2_build(
                batch, "ProductID", "change_ts", ("seq",), tombstone_col="tomb"
            )
        else:
            hist = scd2_apply(
                hist, batch, "ProductID", "change_ts", ("seq",),
                tombstone_col="tomb",
            )
    assert hist is not None
    got, want = _norm(hist), _norm(rebuilt)
    assert got == want

    # semantic floor: last-event-tombstoned keys have no current row;
    # every other key that appeared has exactly one
    last_by_key: dict[int, tuple] = {}
    for r in rows:
        last_by_key[r[0]] = r
    current_keys = {t[0] for t in got if t[4] == "Y"}
    for k, last in last_by_key.items():
        if last[4]:  # tombstone last
            assert k not in current_keys
        else:
            assert k in current_keys


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    events=_EVENTS,
    cut=st.integers(min_value=0, max_value=11),
    ops=st.lists(
        st.sampled_from(["none", "compact", "rebucket2", "rebucket8"]),
        min_size=3,
        max_size=3,
    ),
)
def test_store_random_batches_with_maintenance(spark, tmp_path_factory, events, cut, ops):
    """The incremental store under ARBITRARY batch boundaries with
    compaction / rebucketing interleaved after any commit: the final
    read_all equals the one-shot scd2_build of all events, and every
    retained snapshot stays readable."""
    from architrave_project_apache_nifi_spark.streaming.history_store import (
        Scd2Store,
    )
    from architrave_project_apache_nifi_spark.streaming.scd2_stream import (
        _merge_changes,
    )

    path = str(tmp_path_factory.mktemp("store"))
    events = sorted(events, key=lambda e: e[1])
    rows = [
        (k, p, dt.datetime(2026, 1, 1, 8, m), i)
        for i, (k, m, p) in enumerate(events)
    ]
    schema = "ProductID INT, Price DOUBLE, change_ts TIMESTAMP, seq LONG"
    cut = min(cut, len(rows))
    parts = [p for p in (rows[:cut], rows[cut:]) if p]

    store = Scd2Store(path, key_col="ProductID", n_buckets=4, retain_snapshots=2)
    for batch_id, part in enumerate(parts):
        # the stream's own merge (probe, pruned read, apply or build,
        # commit), which orders a batch by cdc_sequence_id
        changes = spark.createDataFrame(part, schema)
        _merge_changes(
            spark, store, changes.withColumnRenamed("seq", "cdc_sequence_id"),
            batch_id, "change_ts",
        )
        op = ops[batch_id % len(ops)]
        if op == "compact":
            store.compact_closed(spark, min_batches=1)
        elif op == "rebucket2":
            store.rebucket(spark, 2)
        elif op == "rebucket8":
            store.rebucket(spark, 8)

    rebuilt = scd2_build(
        spark.createDataFrame(rows, schema), "ProductID", "change_ts", ("seq",)
    )
    got = store.read_all(spark).withColumnRenamed("cdc_sequence_id", "seq")
    assert _norm(got) == _norm(rebuilt)
    for s in store.snapshots():
        store.read_snapshot(spark, s).count()  # every retained seq readable


# ---------------------------------------------------------------------------
# Cross-batch LATE events (round-4 semantics): scd2_apply trusts arrival
# order (reference compat, SURVEY.md §1.5); scd2_apply_late SPLICES and
# must therefore be ORDER-FREE over arbitrary batch partitions, and
# idempotent under replay; scd2_split_late is the quarantine policy.

from architrave_project_apache_nifi_spark.operators.scd2 import (  # noqa: E402
    scd2_apply_late,
    scd2_invariants,
    scd2_split_late,
)


def _assert_invariants_empty(hist, keys="ProductID"):
    bad = scd2_invariants(hist, keys).collect()
    assert bad == [], f"invariant violations: {bad}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    events=_EVENTS,
    perm=st.randoms(use_true_random=False),
    cut=st.integers(min_value=0, max_value=11),
    data=st.data(),
)
def test_apply_late_is_order_free(spark, events, perm, cut, data):
    """ADVERSARIAL batch order: shuffle the event stream, cut it into up
    to 3 batches, apply with scd2_apply_late — the result must equal the
    one-shot scd2_build of the whole set, and all SCD2 invariants hold.
    (scd2_apply would produce inverted intervals here; this is the
    splice policy's defining property.)"""
    rows = [
        (k, p, dt.datetime(2026, 1, 1, 8, m), i)
        for i, (k, m, p) in enumerate(events)
    ]
    schema = "ProductID INT, Price DOUBLE, change_ts TIMESTAMP, seq LONG"
    rebuilt = scd2_build(
        spark.createDataFrame(rows, schema), "ProductID", "change_ts", ("seq",)
    )

    perm.shuffle(rows)  # arbitrary arrival order, decoupled from event time
    cut = min(cut, len(rows))
    cut2 = data.draw(st.integers(min_value=cut, max_value=len(rows)))
    parts = [rows[:cut], rows[cut:cut2], rows[cut2:]]

    hist = None
    for part in parts:
        if not part:
            continue
        batch = spark.createDataFrame(part, schema)
        if hist is None:
            hist = scd2_build(batch, "ProductID", "change_ts", ("seq",))
        else:
            hist = scd2_apply_late(
                hist, batch, "ProductID", "change_ts", ("seq",)
            )
    assert hist is not None
    assert _norm(hist) == _norm(rebuilt)
    _assert_invariants_empty(hist)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(events=_EVENTS, cut=st.integers(min_value=1, max_value=11))
def test_apply_late_replay_idempotent(spark, events, cut):
    """Re-delivering an entire batch (at-least-once source) must leave
    the spliced history unchanged: events are identified by
    (key, ts, seq) and deduped."""
    events = sorted(events, key=lambda e: e[1])
    rows = [
        (k, p, dt.datetime(2026, 1, 1, 8, m), i)
        for i, (k, m, p) in enumerate(events)
    ]
    schema = "ProductID INT, Price DOUBLE, change_ts TIMESTAMP, seq LONG"
    cut = min(cut, len(rows))
    first, second = rows[:cut], rows[cut:]
    if not first or not second:
        return
    hist = scd2_build(
        spark.createDataFrame(first, schema), "ProductID", "change_ts", ("seq",)
    )
    once = scd2_apply_late(
        hist, spark.createDataFrame(second, schema),
        "ProductID", "change_ts", ("seq",),
    )
    twice = scd2_apply_late(
        once, spark.createDataFrame(second, schema),
        "ProductID", "change_ts", ("seq",),
    )
    assert _norm(twice) == _norm(once)
    _assert_invariants_empty(twice)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(events=_EVENTS, cut=st.integers(min_value=1, max_value=11))
def test_split_late_partitions_exactly(spark, events, cut):
    """on_time ∪ late == batch (disjoint); late is precisely the set
    whose key exists in history with latest valid_from >= the change's
    ts; merging only on_time via scd2_apply keeps every invariant."""
    events = sorted(events, key=lambda e: e[1])
    rows = [
        (k, p, dt.datetime(2026, 1, 1, 8, m), i)
        for i, (k, m, p) in enumerate(events)
    ]
    schema = "ProductID INT, Price DOUBLE, change_ts TIMESTAMP, seq LONG"
    cut = min(cut, len(rows))
    first, second = rows[:cut], rows[cut:]
    if not first or not second:
        return
    hist = scd2_build(
        spark.createDataFrame(first, schema), "ProductID", "change_ts", ("seq",)
    )
    latest = {}
    for k, _p, ts, _s in first:
        latest[k] = max(latest.get(k, ts), ts)
    batch = spark.createDataFrame(second, schema)
    on_time, late = scd2_split_late(hist, batch, "ProductID", "change_ts")
    got_on = {r.seq for r in on_time.collect()}
    got_late = {r.seq for r in late.collect()}
    assert got_on | got_late == {r[3] for r in second}
    assert got_on & got_late == set()
    expect_late = {
        s for k, _p, ts, s in second if k in latest and ts <= latest[k]
    }
    assert got_late == expect_late
    if got_on:
        merged = scd2_apply(
            hist,
            batch.join(
                spark.createDataFrame([(s,) for s in got_on], "seq LONG"),
                "seq", "left_semi",
            ),
            "ProductID", "change_ts", ("seq",),
        )
        _assert_invariants_empty(merged)


# ---------------------------------------------------------------------------
# Round-5 regressions (ADVICE r4): late-path edge cases.

_SCHEMA = "ProductID INT, Price DOUBLE, change_ts TIMESTAMP, seq LONG"


def test_apply_late_history_lacking_ts_col(spark):
    """A persisted history often keeps only the SCD2 stamps (ts_col was
    consumed by the build). scd2_apply_late must reconstruct event time
    from valid_from BEFORE dropping the SCD2 columns — deriving it after
    the drop raised AnalysisException (ADVICE r4)."""
    rows = [
        (1, 10.0, dt.datetime(2026, 1, 1, 8, 0), 0),
        (1, 12.0, dt.datetime(2026, 1, 1, 10, 0), 1),
        (2, 5.0, dt.datetime(2026, 1, 1, 9, 0), 2),
    ]
    hist = scd2_build(
        spark.createDataFrame(rows, _SCHEMA), "ProductID", "change_ts",
        ("seq",),
    ).drop("change_ts")
    assert "change_ts" not in hist.columns
    late_row = [(1, 11.0, dt.datetime(2026, 1, 1, 9, 0), 3)]
    merged = scd2_apply_late(
        hist, spark.createDataFrame(late_row, _SCHEMA),
        "ProductID", "change_ts", ("seq",),
    )
    _assert_invariants_empty(merged)
    chain = sorted(
        (r.Price, r.is_current)
        for r in merged.filter("ProductID = 1").collect()
    )
    assert chain == [(10.0, "N"), (11.0, "N"), (12.0, "Y")]
    # untouched key passes through
    assert merged.filter("ProductID = 2").count() == 1


def test_split_late_null_ts_routed_on_time(spark):
    """NULL event time must not vanish from the split (NULL <= x is
    NULL, failing BOTH filters pre-fix): it routes on-time — the
    arrival-order-trust default of scd2_apply (ADVICE r4)."""
    first = [(1, 10.0, dt.datetime(2026, 1, 1, 8, 0), 0)]
    hist = scd2_build(
        spark.createDataFrame(first, _SCHEMA), "ProductID", "change_ts",
        ("seq",),
    )
    batch = spark.createDataFrame(
        [
            (1, 11.0, None, 1),                               # NULL ts
            (1, 9.0, dt.datetime(2026, 1, 1, 7, 0), 2),       # late
            (2, 5.0, None, 3),                                # NULL, new key
        ],
        _SCHEMA,
    )
    on_time, late = scd2_split_late(hist, batch, "ProductID", "change_ts")
    got_on = {r.seq for r in on_time.collect()}
    got_late = {r.seq for r in late.collect()}
    assert got_on | got_late == {1, 2, 3}, "a row vanished from the split"
    assert got_on == {1, 3}
    assert got_late == {2}


def test_split_late_shuffle_fallback_matches_broadcast(spark):
    """max_broadcast_keys=0 forces the shuffle-join path on BOTH the
    touched-keys semi-join and the latest-probe join (the second
    broadcast was unconditional pre-fix, ADVICE r4); the split must be
    identical to the broadcast path."""
    first = [
        (k, float(k), dt.datetime(2026, 1, 1, 8, k % 50), k)
        for k in range(200)
    ]
    hist = scd2_build(
        spark.createDataFrame(first, _SCHEMA), "ProductID", "change_ts",
        ("seq",),
    )
    batch = spark.createDataFrame(
        [
            (k, float(k) + 0.5,
             dt.datetime(2026, 1, 1, 8, k % 50)
             + dt.timedelta(minutes=-5 if k % 2 else 5),
             1000 + k)
            for k in range(5, 150)
        ],
        _SCHEMA,
    )
    bc_on, bc_late = scd2_split_late(hist, batch, "ProductID", "change_ts")
    sh_on, sh_late = scd2_split_late(
        hist, batch, "ProductID", "change_ts", max_broadcast_keys=0
    )
    assert {r.seq for r in bc_on.collect()} == {r.seq for r in sh_on.collect()}
    assert (
        {r.seq for r in bc_late.collect()}
        == {r.seq for r in sh_late.collect()}
    )

"""Streaming SCD2 — the full reference dataflow as one streaming query.

Reference DAG (SURVEY.md §2.6): CaptureChangeMySQL → RouteOnAttribute →
[insert: flatten → SCD2-stamp → INSERT] / [update: flatten → (Task 1
insert new) + (Task 2 lookup old current → expire UPDATE)].

Engine: one ``foreachBatch`` running the deterministic batch merge
(operators/scd2.scd2_apply) against the incremental manifest-committed
history store (history_store.Scd2Store: each micro-batch is ONE
partitioned write — its closed rows as an immutable partition, its
touched current-row buckets as replacements — then a manifest flip;
O(|touched current|+|batch|) I/O per micro-batch, never O(|history|)),
after one probe per question over persisted frames (``_merge_changes``).
This collapses the reference's two racing sinks into one atomic
commit-per-micro-batch, fixing Bugs 1-3 (SURVEY.md §2.8):

- within-batch multi-updates to one key chain correctly (window lead);
- expire-then-insert is one plan — no race;
- replay of a micro-batch after failure converges to the same store
  (merge inputs = checkpointed offsets + last committed store →
  effectively exactly-once, vs the reference's at-least-once self-loop
  retries).

The checkpoint directory carries source offsets — the reference's
DistributedMapCache binlog position (final_template.xml:1519).

State note: history lives in the store, not in streaming state, so no
``applyInPandasWithState`` and no unbounded state growth; a watermark on
event time is only needed if late events must be *rejected* — the
reference trusts binlog arrival order (SURVEY.md §2.7 streaming rows),
we order by ``cdc_sequence_id`` within each batch instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.scd2 import MAX_BROADCAST_KEYS, scd2_apply, scd2_build
from ..sources import cdc
from .commitdirs import read_committed, start_foreach_batch, write_batch
from .history_store import Scd2Store

#: Late-event policies for the streaming merge. "compat" trusts
#: arrival order like the reference (binlog order, SURVEY.md §1.5 /
#: FT:4295-4301). "quarantine" routes changes whose event time
#: precedes the key's current valid_from to a side-channel instead of
#: corrupting the interval chain. "splice" (scd2_apply_late) is
#: deliberately NOT offered here: it rewrites affected keys' closed
#: versions, and the store's closed segments are immutable append-only
#: by contract (history_store.py) — splicing is a batch-side operation
#: over full-history tables (operators/scd2.scd2_apply_late).
LATE_POLICIES = ("compat", "quarantine")


def _changes(
    batch: DataFrame, ts_col: str, handle_deletes: bool, flatten
) -> DataFrame:
    """One envelope micro-batch as flat change rows — the input of both
    SCD2 sinks: inserts and updates (plus deletes, flagged ``__tomb``,
    when ``handle_deletes``) pivoted by ``flatten(batch, keep)``,
    stamped ``ts_col`` from the envelope's epoch-millis ``timestamp``,
    keeping ``cdc_sequence_id`` as the within-batch order."""
    wanted = ("insert", "update", "delete") if handle_deletes else (
        "insert", "update"
    )
    changes = flatten(
        batch.filter(F.col("type").isin(*wanted)),
        keep=("type", "timestamp", "cdc_sequence_id"),
    ).withColumn(ts_col, F.timestamp_millis(F.col("timestamp")))
    if handle_deletes:
        changes = changes.withColumn("__tomb", F.col("type") == "delete")
    return changes.drop("type", "timestamp")


def _merge_batch(
    spark: SparkSession,
    batch: DataFrame,
    history_path: str,
    key: str,
    ts_col: str,
    batch_id: int,
    n_buckets: int = 16,
    handle_deletes: bool = False,
    compact_every: int | None = None,
    retain_snapshots: int = 1,
    flatten_fn=cdc.flatten_events,
    late_policy: str = "compat",
) -> None:
    """:func:`_merge_changes` over one envelope micro-batch's flat rows,
    then compaction once ``compact_every`` closed partitions are pending.
    ``flatten_fn(batch, keep)`` is the envelope→columns pivot: the
    multi-table demux's hook for each table's own columns and types."""
    if late_policy not in LATE_POLICIES:
        raise ValueError(
            f"late_policy must be one of {LATE_POLICIES}, got {late_policy!r}"
            " — 'splice' is batch-side only (scd2_apply_late), see"
            " LATE_POLICIES"
        )
    store = Scd2Store(
        history_path, key_col=key, n_buckets=n_buckets,
        retain_snapshots=retain_snapshots,
    )
    changes = _changes(batch, ts_col, handle_deletes, flatten_fn)
    tomb = "__tomb" if handle_deletes else None
    if _merge_changes(
        spark, store, changes, batch_id, ts_col, tomb, late_policy
    ) and compact_every:
        # post-commit maintenance in the same single-writer thread:
        # folds accumulated per-batch closed partitions once enough pile up
        store.compact_closed(spark, min_batches=compact_every)


def _merge_changes(
    spark: SparkSession,
    store: Scd2Store,
    changes: DataFrame,
    batch_id: int,
    ts_col: str,
    tombstone_col: str | None = None,
    late_policy: str = "compat",
) -> bool:
    """Merge one micro-batch of flat change rows (ordered within the
    batch by ``cdc_sequence_id``) into ``store``; True iff it committed.

    Closed SCD2 rows are immutable, so the merge runs against the
    current-rows snapshot only (``scd2_apply`` never modifies
    ``is_current='N'`` rows) — and only against the key-hash BUCKETS
    the batch touches: the store scans exactly those bucket
    directories (a bucket with no rows yet reads as nothing), and the
    commit rewrites exactly those buckets while untouched buckets carry
    forward by manifest reference.

    The changes, and under "quarantine" the late split, are persisted
    and probed by one aggregate each (touched buckets and row count —
    the empty-batch probe and the merge's broadcast decision; late and
    on-time counts); the writes read them instead of re-running the
    source read + flatten or the late-split join. That join is a lookup
    of each change's key in the snapshot the merge reads, which has one
    row per key: its ``valid_from`` is the key's latest. Per-batch cost
    is fixed-overhead dominated (~2.4 s at 32 threads whatever the
    batch size), so each job a probe adds counts.

    Exactly-once: the store records the committed batch id; a replayed
    micro-batch (crash between store commit and checkpoint commit) is
    detected by ``version >= batch_id`` and skipped — the store and the
    checkpoint form a pair (wiping one requires wiping the other).
    A missing store is detected EXPLICITLY via the manifest; a corrupt
    or unreadable store raises and fails the batch instead of being
    silently rebuilt from one micro-batch.
    """
    exists = store.exists()
    # manifest() also loads the store's bucket count for bucket_expr
    if exists and store.manifest()["version"] >= batch_id:
        return False  # replayed, already committed — idempotent no-op
    key, order = store.key_col, ("cdc_sequence_id",)
    changes = changes.persist()
    pinned = [changes]
    try:
        touched, rows = changes.agg(
            F.collect_set(store.bucket_expr()), F.count(F.lit(1))
        ).first()
        if not rows:
            return False
        # touched holds ≤ n_buckets ints, so the collect is tiny; rows
        # bounds the batch's key count: under the bound, the merge
        # broadcasts its per-key summary
        small_batch = rows <= MAX_BROADCAST_KEYS
        if not exists:
            merged = scd2_build(
                changes, key, ts_col, order_cols=order,
                tombstone_col=tombstone_col, skew_protection=False,
            )
        else:
            current = store.read_current(spark, buckets=touched)
            if late_policy == "quarantine":
                # Late changes (scd2_split_late's rule; a NULL ts is on
                # time) would invert the interval chain: they go to the
                # side-channel and only the appendable rest merges; a key
                # with no current row (all-new or tombstoned) is never
                # late. No hint on the join: the planner sizes the
                # snapshot from the touched buckets' files, and AQE
                # re-plans at runtime. A replay of a batch whose store
                # commit succeeded never reaches this split (the
                # version >= batch_id guard returns first),
                # so quarantine dirs are written at most once per
                # committed batch, never re-classified against
                # post-merge current rows; only a batch whose commit
                # failed replays here, against the same pre-merge
                # state, overwriting batch=<id> idempotently.
                split = changes.join(
                    current.select(key, "valid_from"), on=key, how="left"
                ).withColumn("__late", F.coalesce(
                    F.col("valid_from").isNotNull()
                    & (F.col(ts_col) <= F.col("valid_from")), F.lit(False),
                )).drop("valid_from")
                pinned.append(split.persist())
                late = F.col("__late")
                n_late, n_on_time = split.agg(
                    F.count_if(late), F.count_if(~late)
                ).first()
                if n_late:
                    write_batch(
                        split.filter(late).drop("__late"),
                        store.path + "_quarantine", batch_id,
                    )
                if not n_on_time:
                    return False  # everything was late; nothing to merge
                changes = split.filter(~late).drop("__late")
            # skew_protection off: a micro-batch is bounded by the
            # trigger (maxFilesPerTrigger), so per-key skew within one
            # batch is batch-sized, and an extra eager detection job
            # per batch would tax the 200 ms-class latency budget
            merged = scd2_apply(
                current, changes, key, ts_col, order_cols=order,
                tombstone_col=tombstone_col, skew_protection=False,
                broadcast_changes=small_batch,
            )
        store.commit(merged, batch_id, touched)
        return True
    finally:
        for df in pinned:
            df.unpersist()


def splice_quarantine(
    spark: SparkSession,
    history_path: str,
    out_path: str,
    key: str = "ProductID",
    ts_col: str = "change_ts",
    order_col: str = "cdc_sequence_id",
    n_buckets: int = 16,
) -> int:
    """OFFLINE maintenance: fold the quarantine side-channel back into
    the history by SPLICING, materializing a fresh store at
    ``out_path`` (the live store's append-only closed segments cannot
    be rewritten in place — LATE_POLICIES). Table-rewrite semantics,
    like an OPTIMIZE/rewrite in a lakehouse format: the caller swaps
    paths and resets the stream checkpoint with it (the store and the
    checkpoint are a pair).

    The merge is ``scd2_apply_late`` — order-free and replay-idempotent
    (a quarantined exact duplicate of an existing version converges
    instead of forking the chain), so re-running over the same
    quarantine is safe. Returns the number of quarantined rows folded
    in; raises if the quarantine is empty (nothing to splice is a
    caller bug, not a silent no-op)."""
    from ..operators.scd2 import scd2_apply_late
    from ..sources.sinks import read_history

    late = read_committed(spark, history_path.rstrip("/") + "_quarantine")
    n_late = late.count()
    history = read_history(spark, history_path)
    merged = scd2_apply_late(
        history, late, key, ts_col, order_cols=(order_col,)
    )
    out_store = Scd2Store(out_path, key_col=key, n_buckets=n_buckets)
    if out_store.exists():
        raise FileExistsError(f"splice target already exists: {out_path}")
    out_store.commit(merged, 0)
    return n_late


def run_scd2_stream_from(
    spark: SparkSession,
    stream: DataFrame,
    history_path: str,
    checkpoint_path: str,
    key: str = "ProductID",
    ts_col: str = "change_ts",
    processing_time: str | None = None,
    n_buckets: int = 16,
    handle_deletes: bool = False,
    compact_every: int | None = None,
    retain_snapshots: int = 1,
    late_policy: str = "compat",
) -> StreamingQuery:
    """Wire ANY envelope-shaped streaming DataFrame (file source, Kafka,
    socket, the custom ``cdc_replay`` Python DataSource) into the SCD2
    merge sink — the source is pluggable, the merge is one code path.

    ``processing_time``: a continuous micro-batch trigger instead of
    availableNow (``commitdirs.start_foreach_batch``) — the
    reference's always-on 200 ms poll.
    ``n_buckets``: current-snapshot bucket count, fixed at store
    creation (size so one bucket's current rows fit one task).
    ``handle_deletes=False`` matches the reference (delete events are
    dropped, README.md:28); True soft-closes the deleted key's current
    row at the delete timestamp (scd2 tombstones) — beyond-reference.
    ``compact_every=N`` runs closed-batch compaction after any commit
    that leaves ≥ N per-batch closed partitions pending (the small-files
    maintenance a 200 ms-trigger stream needs; see
    ``Scd2Store.compact_closed``). ``retain_snapshots=K`` keeps the
    last K committed snapshots readable (``Scd2Store.read_snapshot`` —
    time travel); 1 = latest only.
    ``late_policy``: "compat" (default) trusts arrival order like the
    reference; "quarantine" routes changes whose event time precedes
    the key's current ``valid_from`` (binlog replay / source backfill)
    to ``<history_path>_quarantine/batch=<id>`` instead of corrupting
    the chain — see ``LATE_POLICIES`` for why splice is batch-only."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        _merge_batch(
            spark, batch, history_path, key, ts_col, batch_id, n_buckets,
            handle_deletes, compact_every, retain_snapshots,
            late_policy=late_policy,
        )

    return start_foreach_batch(stream, sink, checkpoint_path, processing_time)


def run_scd2_stream_to_jdbc(
    spark: SparkSession,
    stream: DataFrame,
    url: str,
    table: str,
    checkpoint_path: str,
    key: str = "ProductID",
    ts_col: str = "change_ts",
    properties: dict[str, str] | None = None,
    processing_time: str | None = None,
    handle_deletes: bool = False,
) -> StreamingQuery:
    """The reference's ACTUAL topology, made correct: stream the CDC
    envelope into a live JDBC history table (`products_catalog_history`
    — the table both reference sinks write, final_template.xml:4721),
    one atomic transaction per micro-batch.

    Where the reference races PutSQL INSERT against PutDatabaseRecord
    UPDATE per event (§2.8 bugs), each micro-batch here is ONE
    ``sinks.jdbc_scd2_commit``: expire-UPDATE + version-INSERT commit
    together, with the Structured Streaming batch id as the commit
    marker — a micro-batch replayed after a crash between the database
    commit and the checkpoint commit is a no-op, so the JDBC table gets
    exactly-once semantics end-to-end (source offsets in the
    checkpoint = the reference's MapCache binlog position, FT:1519;
    batch markers in ``<table>_commits`` = the sink-side dedup).

    The parquet-store variant (``run_scd2_stream_from``) remains the
    scale path — a JDBC dimension table is for serving, not for 100 TB
    history — but both share the same flatten/route/merge semantics."""
    from ..sources.sinks import jdbc_scd2_commit

    props = properties or {}
    tombstone_col = "__tomb" if handle_deletes else None

    def sink(batch: DataFrame, batch_id: int) -> None:
        # persisted: staged twice (expire summary + versions)
        changes = _changes(
            batch, ts_col, handle_deletes, cdc.flatten_events
        ).persist()
        try:
            if not changes.head(1):
                return
            jdbc_scd2_commit(
                changes, url, table, key, ts_col, props,
                order_cols=("cdc_sequence_id",),
                tombstone_col=tombstone_col,
                batch_id=batch_id,
            )
        finally:
            changes.unpersist()

    return start_foreach_batch(stream, sink, checkpoint_path, processing_time)


def run_scd2_stream(
    spark: SparkSession,
    input_path: str,
    history_path: str,
    checkpoint_path: str,
    key: str = "ProductID",
    ts_col: str = "change_ts",
    max_files_per_trigger: int | None = 1,
    handle_deletes: bool = False,
    late_policy: str = "compat",
) -> StreamingQuery:
    """Wire the CDC file stream into the SCD2 merge sink."""
    stream = cdc.read_envelope_stream(spark, input_path, max_files_per_trigger)
    return run_scd2_stream_from(
        spark, stream, history_path, checkpoint_path, key, ts_col,
        handle_deletes=handle_deletes, late_policy=late_policy,
    )

"""Streaming incremental rollup: maintain a per-group aggregate state
table over an event stream at O(delta + groups) per micro-batch — the
continuous form of ``operators/incremental_agg``.

State versions are batch-id-addressed full snapshots:

    root/state/batch=<id>/   the merged state AFTER folding batch <id>

Each micro-batch reads the LATEST state with a strictly smaller batch
id, folds its own delta in (``incremental_refresh``), and overwrites
its own directory. A replayed micro-batch (crash between sink write
and checkpoint commit) re-reads the same predecessor snapshot and
rewrites byte-identical state — the same idempotence contract as
``dedup_ingest`` / the SCD2 store, with the strict-predecessor rule
playing the role of ``exclude_batch``.

Scale notes: the written object is the STATE (one bounded-width row
per group), not the stream; writes are O(groups). When the group
cardinality itself is huge, bucket the state by group key and fold
deltas bucket-wise (only buckets containing the batch's keys rewrite
— the history_store.py touched-bucket pattern); the merge arithmetic
here is unchanged. Old snapshots are retained for time travel; prune
with ``prune_snapshots``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.incremental_agg import finalize, incremental_refresh
from .commitdirs import committed_batch_dirs, start_foreach_batch, write_batch


def _state_dirs(root: str) -> list[tuple[int, str]]:
    # committed snapshots only: a crash mid-write leaves a torn
    # batch=<id> dir with no _SUCCESS; readers must fall back to the
    # predecessor until the batch replays (commitdirs.py)
    return committed_batch_dirs(os.path.join(root, "state"))


def read_state(
    spark: SparkSession, root: str, before_batch: int | None = None
) -> DataFrame | None:
    """Latest committed state snapshot (optionally: latest with id
    strictly below ``before_batch`` — the replay-safe predecessor
    read). None when nothing is committed yet."""
    dirs = _state_dirs(root)
    if before_batch is not None:
        dirs = [(i, p) for i, p in dirs if i < before_batch]
    if not dirs:
        return None
    return spark.read.parquet(dirs[-1][1])


def rollup_batch(
    batch: DataFrame,
    root: str,
    keys: list[str],
    measures: list[str],
    batch_id: int,
    distinct_cols: list[str] = [],
) -> None:
    """Fold one micro-batch into the rollup: read the predecessor
    snapshot, refresh, overwrite this batch's own snapshot dir
    (idempotent under replay). ``distinct_cols`` (r7) carries the
    mergeable HLL distinct state through the stream — the sketch's
    BINARY column parquet-round-trips like any other state column."""
    spark = batch.sparkSession
    prev = read_state(spark, root, before_batch=batch_id)
    new_state = incremental_refresh(prev, batch, keys, measures, distinct_cols)
    write_batch(new_state, os.path.join(root, "state"), batch_id)


def read_rollup(
    spark: SparkSession, root: str, measures: list[str],
    as_of_batch: int | None = None,
    distinct_cols: list[str] = [],
) -> DataFrame:
    """The presentation rollup (avg etc. derived; approx distincts
    estimated from the HLL state) from the latest — or, for time
    travel, a historical — snapshot."""
    state = read_state(
        spark, root,
        before_batch=None if as_of_batch is None else as_of_batch + 1,
    )
    if state is None:
        raise FileNotFoundError(f"no committed rollup state under {root}")
    return finalize(state, measures, distinct_cols)


def prune_snapshots(root: str, keep: int = 2) -> int:
    """Delete all but the newest ``keep`` snapshots (the newest is
    always kept; ``keep>=2`` also preserves the replay predecessor of
    a not-yet-committed batch). Returns the number removed."""
    if keep < 1:
        raise ValueError("prune_snapshots: keep must be >= 1")
    dirs = _state_dirs(root)
    victims = dirs[:-keep] if len(dirs) > keep else []
    for _, p in victims:
        shutil.rmtree(p)
    return len(victims)


def run_rollup_stream(
    events: DataFrame,
    root: str,
    checkpoint: str,
    keys: list[str],
    measures: list[str],
    distinct_cols: list[str] = [],
) -> StreamingQuery:
    """readStream of events → per-micro-batch state fold. Checkpoint
    carries source offsets; idempotent snapshot writes make the
    pipeline effectively exactly-once."""
    return start_foreach_batch(
        events,
        lambda b, bid: rollup_batch(b, root, keys, measures, bid, distinct_cols),
        checkpoint,
    )

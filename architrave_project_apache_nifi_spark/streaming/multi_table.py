"""Multi-table CDC demux: one binlog stream → N per-table SCD2 stores.

A real ``CaptureChangeMySQL`` tap serves a whole database — the
envelope carries ``table_name`` (sources/cdc.py::CDC_ENVELOPE_SCHEMA;
final_template.xml:4110-4382 configures a database-level capture and
the reference flow then implicitly handles only ``products_catalog``).
This module is the routing the reference leaves implicit: each
micro-batch is split by ``table_name`` and merged into that table's own
incremental history store with that table's own columns, types, and
business key.

Semantics per table = exactly ``run_scd2_stream_from`` (scd2_stream.py
``_merge_batch``: within-batch version chaining, bucket-scoped I/O,
batch-id idempotent replay, one probe per question) — the demux adds
routing, not a second merge implementation. Each table's merge asks
Spark about its slice of the batch with one aggregate (touched buckets
and row count; a table with no events in the batch stops there), plus
one late-split aggregate when its spec says "quarantine". Events for
tables with no registered spec are DROPPED, mirroring
RouteOnAttribute's unmatched-terminate contract
(final_template.xml:1946-1983); register a catch-all spec or a failure
sink if they must be kept.

Scale: the demux is a per-table filter over the shared micro-batch —
the batch is persisted once and each table's filter prunes from it;
tables merge sequentially within the batch (one writer per store,
honoring the single-writer contract), in arbitrary-parallel across
batches only via separate streams. The touched-bucket pruning keeps
each table's merge O(|that table's events| + touched buckets),
independent of the other tables' volume.
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.jolt import shift_pivot
from .commitdirs import start_foreach_batch
from .scd2_stream import _merge_batch


@dataclass(frozen=True)
class TableSpec:
    """Per-table routing target: flat column set, optional casts, and
    the SCD2 business key."""

    columns: tuple[str, ...]
    key: str
    types: Mapping[str, str] = field(default_factory=dict)
    n_buckets: int = 16
    handle_deletes: bool = False
    late_policy: str = "compat"  # or "quarantine" (scd2_stream.LATE_POLICIES)

    def flatten(self, batch: DataFrame, keep: Sequence[str]) -> DataFrame:
        return shift_pivot(
            batch, "columns", self.columns, keep=keep, types=dict(self.types)
        )


def demux_merge_batch(
    spark: SparkSession,
    batch: DataFrame,
    root: str,
    specs: Mapping[str, TableSpec],
    batch_id: int,
    ts_col: str = "change_ts",
) -> None:
    """Route one envelope micro-batch to every registered table's store."""
    batch = batch.persist()  # one source evaluation feeds all N filters
    try:
        for name, spec in specs.items():
            _merge_batch(
                spark,
                batch.filter(F.col("table_name") == name),
                os.path.join(root, name),
                spec.key,
                ts_col,
                batch_id,
                n_buckets=spec.n_buckets,
                handle_deletes=spec.handle_deletes,
                flatten_fn=spec.flatten,
                late_policy=spec.late_policy,
            )
    finally:
        batch.unpersist()


def run_multi_table_scd2_stream(
    spark: SparkSession,
    stream: DataFrame,
    root: str,
    specs: Mapping[str, TableSpec],
    checkpoint_path: str,
    ts_col: str = "change_ts",
    processing_time: str | None = None,
) -> StreamingQuery:
    """One streaming query, N per-table SCD2 stores under
    ``root/<table_name>``. Checkpointed offsets are shared (one source
    position for the whole database — exactly the binlog semantics);
    per-table replay idempotence comes from each store's own committed
    batch id."""
    return start_foreach_batch(
        stream,
        lambda b, bid: demux_merge_batch(spark, b, root, specs, bid, ts_col),
        checkpoint_path,
        processing_time,
    )

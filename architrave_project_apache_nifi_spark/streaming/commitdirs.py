"""The micro-batch sink discipline every streaming module shares:
``foreachBatch`` over checkpointed offsets (:func:`start_foreach_batch`),
writes addressed by batch id, then a commit record.

The batch-dir stores write each micro-batch into its own ``batch=<id>``
directory with ``mode("overwrite")`` (:func:`write_batch`) so a replay
converges — but a crash MID-write leaves a partial directory on disk,
and a reader that ran between the crash and the replay would otherwise
see a torn snapshot. Spark's file committer already gives us the fix
for free: the job-level ``_SUCCESS`` marker is written only after every
task output is committed, so "directory contains ``_SUCCESS``" is
exactly "this batch's write finished". Readers here
(:func:`read_committed`) treat that marker as the commit record and
skip torn directories; the crashed batch's replay overwrites the
partial dir wholesale and re-earns the marker.

(The SCD2 history store doesn't need this: it has a real manifest and
never trusts directory listings — history_store.py.)
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

_SUCCESS = "_SUCCESS"


def start_foreach_batch(
    df: DataFrame, sink: Callable[[DataFrame, int], object], checkpoint: str,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Run ``sink(batch, batch_id)`` on each micro-batch of ``df``, with
    source offsets in ``checkpoint``. Trigger: availableNow, or every
    ``processing_time`` (Python DataSources and the socket source lack
    availableNow; the caller then stops the query)."""
    os.makedirs(checkpoint, exist_ok=True)
    writer = df.writeStream.option("checkpointLocation", checkpoint).foreachBatch(sink)
    if processing_time is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def committed_batch_dirs(
    parent: str, exclude_batch: int | None = None
) -> list[tuple[int, str]]:
    """``(batch_id, path)`` for every COMMITTED ``batch=<id>`` child of
    ``parent``, sorted by id. Partial directories (crashed mid-write,
    no ``_SUCCESS``) and ``exclude_batch`` (a replaying batch must not
    read its own first attempt) are skipped. Empty when ``parent``
    doesn't exist."""
    if not os.path.isdir(parent):
        return []
    out = []
    for d in os.listdir(parent):
        if not d.startswith("batch="):
            continue
        bid = int(d.split("=", 1)[1])
        p = os.path.join(parent, d)
        if bid == exclude_batch or not os.path.isfile(os.path.join(p, _SUCCESS)):
            continue
        out.append((bid, p))
    return sorted(out)


def write_batch(df: DataFrame, parent: str, batch_id: int) -> None:
    """Overwrite ``parent/batch=<id>`` with ``df``: a replayed batch
    lands in the same directory and converges."""
    df.write.mode("overwrite").parquet(os.path.join(parent, f"batch={batch_id}"))


def read_committed(
    spark: SparkSession, parent: str, schema: str | None = None,
    exclude_batch: int | None = None,
) -> DataFrame:
    """Union of ``parent``'s committed ``batch=<id>`` dirs, minus
    ``exclude_batch``. With none: an empty frame of ``schema``, or
    ``FileNotFoundError`` when no schema is given."""
    paths = [p for _, p in committed_batch_dirs(parent, exclude_batch)]
    if paths:
        return spark.read.parquet(*paths)
    if schema is None:
        raise FileNotFoundError(f"no committed batches under {parent}")
    return spark.createDataFrame([], schema)

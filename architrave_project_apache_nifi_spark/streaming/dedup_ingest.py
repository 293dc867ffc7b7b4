"""Streaming corpus ingestion with dedup against everything already
ingested — the continuous form of ``operators/dedup.dedup_incremental``.

Each micro-batch is deduped (a) within itself and (b) against the
persisted fingerprint store accumulated by every PRIOR batch, then the
surviving documents and their fingerprints are appended as batch-id-
addressed directories:

    root/corpus/batch=<id>/   kept documents of that micro-batch
    root/fps/batch=<id>/      their (fp, first_id) fingerprints

Exactly-once: both writes use ``mode("overwrite")`` into the batch-id
directory, so a replayed micro-batch (crash between sink write and
checkpoint commit) converges to byte-identical state instead of
duplicating — the same idempotence contract as the SCD2 store's
batch-id-addressed writes (history_store.py), without needing a
manifest because batch directories are independent (dedup reads the
fingerprint union, and a half-written replay is overwritten whole).

Scale: per batch, the store side scans ONLY the 16-byte (fp, first_id)
projection — never historical text; the anti-join key is the 8-byte
xxhash64. At 100 TB, lay the fingerprint dirs out bucketed by
``pmod(fp, N)`` and co-bucket the batch to make the join Exchange-free;
periodically fold ``fps/batch=*`` into one compacted store with
``operators/bucketing.compact_parquet_dir`` — per-batch cost is then
O(|batch| + |store|/N · touched buckets).

No counterpart in the reference (its only uniqueness mechanism is the
SCD2 current-row protocol); driver-mandated extension (SURVEY.md §2.9).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import content_fingerprints, dedup_incremental
from .commitdirs import read_committed, start_foreach_batch, write_batch


def read_fingerprints(
    spark: SparkSession, root: str, exclude_batch: int | None = None
) -> DataFrame:
    """Union of every committed batch's fingerprints (empty-schema
    DataFrame when nothing has been ingested yet). ``exclude_batch``
    skips that batch's own directory — a REPLAYED micro-batch must not
    see the fingerprints its first attempt wrote, or it would judge all
    of its own documents already-seen and commit an empty batch.
    Torn directories (crash mid-write, no ``_SUCCESS``) are skipped
    (commitdirs.py) — their batch replays and overwrites them."""
    return read_committed(
        spark, os.path.join(root, "fps"), "fp long, first_id long", exclude_batch
    )


def read_corpus(spark: SparkSession, root: str) -> DataFrame:
    """Every document kept so far (committed batches only)."""
    return read_committed(spark, os.path.join(root, "corpus"))


def ingest_batch(
    batch: DataFrame,
    root: str,
    id_col: str,
    text_col: str,
    batch_id: int,
) -> None:
    """Dedup one micro-batch against the store and append survivors.

    The kept set is decided by :func:`dedup_incremental` (store-new AND
    batch-min-id per content hash); fingerprints of kept docs extend the
    store for every LATER batch. Both writes are idempotent overwrites
    of this batch's own directory.
    """
    spark = batch.sparkSession
    store = read_fingerprints(spark, root, exclude_batch=batch_id)
    verdict = dedup_incremental(batch, store, id_col, text_col)
    kept_ids = verdict.filter(F.col("is_kept") == 1).select(id_col)
    kept = batch.join(kept_ids, id_col, "left_semi")
    # Survivors only — duplicates must not enter the store, or a
    # replayed twin in a later batch would be "seen" twice (harmless)
    # while inflating the store with never-kept hashes (not harmless).
    write_batch(kept, os.path.join(root, "corpus"), batch_id)
    write_batch(
        content_fingerprints(kept, id_col, text_col),
        os.path.join(root, "fps"),
        batch_id,
    )


def run_dedup_ingest_stream(
    docs: DataFrame,
    root: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """readStream of documents → per-micro-batch dedup-ingest.

    ``docs`` is any streaming DataFrame carrying (id_col, text_col) —
    a file source watching a landing directory, the Kafka(-loopback)
    source, or the custom CDC DataSource. The checkpoint dir carries
    source offsets; together with idempotent batch writes the pipeline
    is effectively exactly-once end-to-end.
    """
    return start_foreach_batch(
        docs, lambda b, bid: ingest_batch(b, root, id_col, text_col, bid), checkpoint
    )

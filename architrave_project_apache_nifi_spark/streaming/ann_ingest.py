"""Streaming ANN index ingestion: vectors arriving on a stream join a
probe-able IVF index without retraining — the serving-side continuous
form of ``similarity.ivf_append``.

Why not ``ivf_append`` in ``foreachBatch`` directly: it extends the
saved index with ``mode("append")``, which DUPLICATES vectors when a
crashed micro-batch replays. Here every batch writes its assigned
rows to its OWN delta directory:

    root/base/            an ivf_save index (centroids + lists)
    root/deltas/batch=<id>/list_id=*/   that batch's assignments

``mode("overwrite")`` into the batch directory makes replay converge
(the dedup_ingest / rollup_stream idempotence convention), and each
delta keeps the ``list_id=`` partitioning so probes prune partitions
in every delta exactly like in the base.

``load_index`` unions base + deltas into one probe-able IvfIndex.
Delta count grows with batches; ``rebuild`` is the compaction: retrain
+ rewrite into a fresh base from the accumulated vectors and atomically
swap the ``_CURRENT`` pointer (os.replace), then clear deltas — the
same rebuild-when-skewed judgement as ``ivf_append`` documents.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.similarity import (
    IvfIndex,
    ivf_assign,
    ivf_build,
    ivf_load,
    ivf_save,
)

from .commitdirs import committed_batch_dirs, start_foreach_batch

_POINTER = "_CURRENT"
_FOLDED = "_FOLDED"


def _base_dir(root: str) -> str:
    ptr = os.path.join(root, _POINTER)
    if os.path.exists(ptr):
        with open(ptr) as f:
            return os.path.join(root, f.read().strip())
    return os.path.join(root, "base")


def init_index(
    spark: SparkSession,
    root: str,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 32,
) -> None:
    """Bootstrap: train + save the base index from an initial corpus."""
    os.makedirs(root, exist_ok=True)
    index = ivf_build(vectors, id_col, vec_col, nlist=nlist)
    ivf_save(index, os.path.join(root, "base"))
    with open(os.path.join(root, _POINTER), "w") as f:
        f.write("base")


def ingest_batch(
    batch: DataFrame, root: str, batch_id: int, vec_col: str = "embedding"
) -> int:
    """Assign one micro-batch to the base index's cells and write its
    delta directory (idempotent overwrite). Returns rows ingested."""
    spark = batch.sparkSession
    index = ivf_load(spark, _base_dir(root))
    assigned = ivf_assign(index, batch, vec_col=vec_col)
    out = os.path.join(root, "deltas", f"batch={batch_id}")
    assigned.write.partitionBy("list_id").mode("overwrite").parquet(out)
    return spark.read.parquet(out).count()


def _folded_deltas(base_dir: str) -> set[str]:
    """Delta dir names the base already absorbed (written by
    ``rebuild`` BEFORE the pointer flip): a crash after the flip but
    before delta cleanup must not double-count them."""
    p = os.path.join(base_dir, _FOLDED)
    if not os.path.exists(p):
        return set()
    with open(p) as f:
        return {ln.strip() for ln in f if ln.strip()}


def _live_deltas(root: str, base_dir: str) -> list[str]:
    """Committed delta dirs the base at ``base_dir`` has not absorbed."""
    folded = _folded_deltas(base_dir)
    return [
        p
        for _, p in committed_batch_dirs(os.path.join(root, "deltas"))
        if os.path.basename(p) not in folded
    ]


def load_index(spark: SparkSession, root: str) -> IvfIndex:
    """Base + all committed deltas as one probe-able index. Each
    source keeps its own ``list_id=`` partitioning, so probe pruning
    applies per source. Skips (a) deltas the base's ``_FOLDED`` record
    says were already compacted into it — the crash-after-flip window
    of ``rebuild`` — and (b) torn delta dirs with no ``_SUCCESS``
    (crash mid-write; their batch replays)."""
    bdir = _base_dir(root)
    base = ivf_load(spark, bdir)
    dirs = _live_deltas(root, bdir)
    if not dirs:
        return base
    assigned = base.assigned
    # one read per delta, not commitdirs.read_committed: each delta is
    # its own list_id=-partitioned root, and one read over several
    # roots fails Spark's conflicting-partition-directory check
    for d in dirs:
        assigned = assigned.unionByName(spark.read.parquet(d))
    return IvfIndex(
        centroids=base.centroids,
        assigned=assigned,
        id_col=base.id_col,
        nlist=base.nlist,
    )


def sweep(root: str) -> None:
    """Garbage-collect leftovers of a crashed ``rebuild``: base dirs
    the pointer doesn't reference (crash before the flip, or after it
    before the old base was removed) and delta dirs the current base's
    ``_FOLDED`` record says are absorbed (crash after the flip before
    delta cleanup). Pure deletion of unreferenced state — always safe,
    run any time."""
    cur = _base_dir(root)
    for d in os.listdir(root):
        p = os.path.join(root, d)
        if d.startswith("base") and os.path.isdir(p) and p != cur:
            shutil.rmtree(p, ignore_errors=True)
    ddir = os.path.join(root, "deltas")
    for name in _folded_deltas(cur):
        shutil.rmtree(os.path.join(ddir, name), ignore_errors=True)


def rebuild(
    spark: SparkSession,
    root: str,
    vec_col: str = "embedding",
    nlist: int | None = None,
) -> None:
    """Compaction: retrain a fresh base from every vector the index
    holds (base + live deltas), write it beside the old one — with a
    ``_FOLDED`` record of exactly which delta dirs it absorbed —
    atomically flip the pointer, then drop the old base and the folded
    deltas.

    Crash-safety (tests/test_crash_injection.py): before the flip the
    old index serves unchanged and the half-built base is swept later;
    after the flip the ``_FOLDED`` record keeps ``load_index`` from
    double-counting deltas whose cleanup never ran — no loss, no
    duplication, at every kill point."""
    sweep(root)  # clear any prior crash's leftovers first
    idx = load_index(spark, root)
    vectors = idx.assigned.select(idx.id_col, "__cv").withColumnRenamed(
        "__cv", vec_col
    )
    old = _base_dir(root)
    folding = [os.path.basename(p) for p in _live_deltas(root, old)]
    new_name = (
        "base_1" if os.path.basename(old) == "base"
        else f"base_{int(os.path.basename(old).split('_')[1]) + 1}"
    )
    new_index = ivf_build(
        vectors, idx.id_col, vec_col, nlist=nlist or idx.nlist
    )
    ivf_save(new_index, os.path.join(root, new_name))
    with open(os.path.join(root, new_name, _FOLDED), "w") as f:
        f.write("\n".join(folding))
    tmp = os.path.join(root, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(new_name)
    os.replace(tmp, os.path.join(root, _POINTER))  # atomic flip
    shutil.rmtree(old, ignore_errors=True)
    ddir = os.path.join(root, "deltas")
    for name in folding:
        shutil.rmtree(os.path.join(ddir, name), ignore_errors=True)
    if os.path.isdir(ddir) and not os.listdir(ddir):
        os.rmdir(ddir)


def run_ann_ingest_stream(
    vectors: DataFrame,
    root: str,
    checkpoint: str,
    vec_col: str = "embedding",
) -> StreamingQuery:
    """readStream of (id, vector) rows → per-micro-batch delta append
    onto the initialized index (call ``init_index`` first)."""
    return start_foreach_batch(
        vectors, lambda b, bid: ingest_batch(b, root, bid, vec_col), checkpoint
    )

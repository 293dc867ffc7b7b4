"""Streaming drift gate: per-micro-batch distribution monitoring
against a FROZEN reference — the statistical sibling of
``quality_gate`` (which checks hard constraints; this checks
distributional sameness via operators/drift.py PSI).

A batch whose monitored columns all score under the PSI threshold
commits to ``root/accepted/batch=<id>``; a drifted batch diverts WHOLE
to ``root/quarantine/batch=<id>`` with its per-column PSI report —
same all-or-nothing policy and batch-id-addressed idempotent writes
as quality_gate (a drifted source needs a human, not silent
ingestion).

The reference dataset is loaded ONCE (a path to a frozen sample —
monitoring references are sampled snapshots, not the live corpus) and
its per-column bin grids cost one pass per batch on the reference
side; freeze the reference SMALL (e.g. a stratified sample) so that
pass is trivial. Per batch: one counting pass over the micro-batch
per column + a ≤(bins+2)-row broadcast join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.drift import psi_report
from .commitdirs import start_foreach_batch, write_batch


def drift_gate_batch(
    batch: DataFrame,
    reference: DataFrame,
    root: str,
    batch_id: int,
    numeric_cols: list[str] | None = None,
    categorical_cols: list[str] | None = None,
    max_psi: float = 0.25,
    bins: int = 10,
) -> bool:
    """Admit or quarantine one micro-batch by PSI vs the frozen
    reference. An EMPTY batch admits trivially (no distribution to
    judge). Returns True if admitted."""
    if batch.isEmpty():
        return True
    report = psi_report(reference, batch, numeric_cols, categorical_cols, bins)
    rows = report.collect()  # one row per monitored column — bounded
    ok = all(r["psi"] <= max_psi for r in rows)
    side = "accepted" if ok else "quarantine"
    write_batch(batch, os.path.join(root, side), batch_id)
    if not ok:
        # Reports live under a SIBLING root, not inside quarantine/ —
        # the report schema differs from the data schema, so mixing
        # them under one root would break partition-discovery reads
        # of quarantine/.
        write_batch(report.coalesce(1), os.path.join(root, "reports"), batch_id)
    return ok


def run_drift_gate_stream(
    df: DataFrame,
    reference: DataFrame,
    root: str,
    checkpoint: str,
    numeric_cols: list[str] | None = None,
    categorical_cols: list[str] | None = None,
    max_psi: float = 0.25,
) -> StreamingQuery:
    """readStream → per-micro-batch PSI gate against a frozen
    reference DataFrame (load it from the frozen sample path once;
    persist it if the stream runs many batches)."""
    return start_foreach_batch(
        df,
        lambda b, bid: drift_gate_batch(
            b, reference, root, bid, numeric_cols, categorical_cols, max_psi
        ),
        checkpoint,
    )

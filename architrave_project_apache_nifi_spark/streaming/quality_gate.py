"""Streaming data-quality gate: per-micro-batch constraint checking
with quarantine routing — the validating admission control the
reference flow lacks (SURVEY.md §2.8: its Bugs are partly
unvalidated-data failures; its only failure handling is the
LogMessage/LogAttribute side-channel, §2.5).

Each micro-batch is evaluated against the caller's rules
(operators/quality.check_constraints — ONE aggregation pass however
many rules). Batches that pass commit to ``root/accepted/batch=<id>``;
batches with any violation divert WHOLE to
``root/quarantine/batch=<id>``, with a one-file constraint report in
the sibling ``root/reports/batch=<id>`` (outside the data root, whose
``batch=<id>`` dirs ``commitdirs.read_committed`` unions) —
all-or-nothing per batch, because a half-admitted batch is exactly the
partial-failure state the reference's racing sinks produce
(final_template.xml Task1/Task2) and this engine exists to rule out.
Row-level routing (admit clean rows, divert dirty ones) is the
``route_on_predicates`` composition instead; this gate is for
contracts where a violation means the SOURCE is broken.

Idempotent replay: batch-id-addressed ``mode("overwrite")`` writes, the
same convention as dedup_ingest.py / history_store.py — a crash-replay
converges. The verdict itself is deterministic, so a replayed batch
lands on the same side.

Scale: the constraint pass is one hash aggregate over the micro-batch;
verdict evaluation collects ONE row per rule (bounded by the rule
count, never the batch).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.quality import check_constraints
from .commitdirs import start_foreach_batch, write_batch


def gate_batch(
    batch: DataFrame,
    root: str,
    rules: dict[str, Column],
    batch_id: int,
) -> bool:
    """Admit or quarantine one micro-batch. Returns True if admitted."""
    report = check_constraints(batch, rules)
    verdict = report.collect()  # one row per rule — bounded, documented
    ok = all(r["passed"] == 1 for r in verdict)
    side = "accepted" if ok else "quarantine"
    write_batch(batch, os.path.join(root, side), batch_id)
    if not ok:
        write_batch(report.coalesce(1), os.path.join(root, "reports"), batch_id)
    return ok


def run_quality_gate_stream(
    df: DataFrame,
    root: str,
    checkpoint: str,
    rules: dict[str, Column],
) -> StreamingQuery:
    """readStream → per-micro-batch constraint gate."""
    return start_foreach_batch(
        df, lambda b, bid: gate_batch(b, root, rules, bid), checkpoint
    )

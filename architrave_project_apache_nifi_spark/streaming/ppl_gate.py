"""Streaming CCNet perplexity gate: score arriving documents against a
FIXED reference-trained LM and route head/middle vs tail — the
streaming form of ``operators/lm.ccnet_ppl_buckets``.

Deployment shape (Wenzek et al. 2019 in production): the trigram model
and the per-language NLL thresholds are TRAINED ONCE on a reference +
calibration corpus and frozen as an artifact; each arriving batch then
scores independently — a stream can't see global percentiles, so
per-batch bucketing would make admission depend on what else arrived
that minute (nondeterministic under replay, the cardinal streaming
sin). :func:`fit_ppl_gate` builds the artifact; scoring a micro-batch
is the checkpointed vocab-sized tables joined to the batch (AQE
broadcasts them — a stream-static join, map-only from the batch's
perspective plus its one per-doc aggregate).

Routing: admitted (head+middle) rows land in ``root/accepted/
batch=<id>``, tail rows in ``root/diverted/batch=<id>`` — row-level
(unlike quality_gate's all-or-nothing batch verdict) because a lossy
document says nothing about its neighbors. Documents too short to
score (< 3 tokens — no trigram positions) bucket as ``tail`` by the
CCNet convention, visibly diverted rather than silently dropped.
Batch-id-addressed ``mode("overwrite")`` writes make crash-replay
idempotent (the dedup_ingest/history_store convention), and the
verdict is deterministic (fixed artifact + fixed thresholds), so a
replayed batch lands on the same side row for row.

Scale: the artifact is three vocab-sized tables + one thresholds row
per language; per batch: one explode, broadcast joins, one per-doc
mean — nothing in the hot path grows with stream history.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.lm import PPL_BUCKETS, lm_counts, trigram_nll_with
from .commitdirs import start_foreach_batch, write_batch


class PplGateModel(NamedTuple):
    """Frozen gate artifact: the :func:`lm_counts` tables + per-language
    NLL thresholds (``lang``, ``__thr`` array of len(buckets)-1)."""

    uni: DataFrame
    bi: DataFrame
    tri: DataFrame
    totals: DataFrame
    thresholds: DataFrame


def fit_ppl_gate(
    ref: DataFrame,
    calib: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    accuracy: int = 10_000,
) -> PplGateModel:
    """Train the artifact: LM counts from ``ref`` (checkpointed once
    by lm_counts), NLL thresholds from scoring the ``calib`` slice
    (approx-percentile terciles per language — the production
    bucketer). ``calib`` stands in for "the corpus so far"; refit on a
    cadence, not per batch."""
    counts = lm_counts(ref, text_col)
    scored = trigram_nll_with(
        calib, text_col, id_col, counts, carry_cols=(lang_col,)
    )
    k = len(PPL_BUCKETS)
    qs = [i / k for i in range(1, k)]
    thr = (
        scored.groupBy(lang_col)
        .agg(F.percentile_approx("nll", qs, accuracy).alias("__thr"))
        .localCheckpoint(eager=True)
    )
    return PplGateModel(*counts, thr)


def score_batch(
    batch: DataFrame,
    model: PplGateModel,
    text_col: str,
    id_col: str,
    lang_col: str,
) -> DataFrame:
    """The batch with ``nll`` (null when unscorable) and ``ppl_bucket``
    appended. Left joins from the batch spine keep every input row;
    unseen-language rows (no threshold row) and sub-trigram docs
    bucket as ``tail``."""
    scored = trigram_nll_with(
        batch.select(id_col, text_col), text_col, id_col, model[:4]
    ).select(id_col, "nll")
    out = (
        batch.join(scored, id_col, "left")
        .join(F.broadcast(model.thresholds), lang_col, "left")
    )
    nll = F.col("nll")
    expr = F.when(
        nll.isNull() | F.col("__thr").isNull(), F.lit(PPL_BUCKETS[-1])
    ).when(nll <= F.get("__thr", 0), F.lit(PPL_BUCKETS[0]))
    for i, name in enumerate(PPL_BUCKETS[1:-1], start=1):
        expr = expr.when(nll <= F.get("__thr", i), F.lit(name))
    expr = expr.otherwise(F.lit(PPL_BUCKETS[-1]))
    return out.withColumn("ppl_bucket", expr).drop("__thr")


def gate_batch(
    batch: DataFrame,
    root: str,
    model: PplGateModel,
    text_col: str,
    id_col: str,
    lang_col: str,
    batch_id: int,
) -> None:
    """Route one micro-batch: head+middle → accepted, tail → diverted.
    Batch-addressed overwrites — replay converges."""
    scored = score_batch(batch, model, text_col, id_col, lang_col)
    tail = F.col("ppl_bucket") == PPL_BUCKETS[-1]
    write_batch(scored.filter(~tail), os.path.join(root, "accepted"), batch_id)
    write_batch(scored.filter(tail), os.path.join(root, "diverted"), batch_id)


def run_ppl_gate_stream(
    df: DataFrame,
    root: str,
    checkpoint: str,
    model: PplGateModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> StreamingQuery:
    """readStream → per-micro-batch perplexity routing against the
    frozen artifact."""
    return start_foreach_batch(
        df,
        lambda b, bid: gate_batch(b, root, model, text_col, id_col, lang_col, bid),
        checkpoint,
    )


def ppl_gate_save(model: PplGateModel, path: str) -> None:
    """Persist the full gate artifact (LM tables + thresholds) — the
    deployment form: fit on a cadence offline, load in the streaming
    job. Same parquet-artifact convention as ``lm_save``."""
    from ..operators.lm import lm_save

    lm_save(model[:4], f"{path}/lm")
    model.thresholds.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/thresholds"
    )


def ppl_gate_load(spark, path: str) -> PplGateModel:
    """Load a persisted gate artifact for ``run_ppl_gate_stream``."""
    from ..operators.lm import lm_load

    return PplGateModel(
        *lm_load(spark, f"{path}/lm"),
        spark.read.parquet(f"{path}/thresholds"),
    )

"""Streaming NEAR-duplicate ingestion: documents arriving on a stream
are deduped against everything already ingested by minhash-LSH — the
approximate sibling of ``dedup_ingest`` (exact content hashes) and the
continuous form of the batch ``dedup_minhash_lsh`` / ``verify`` chain.

Store layout (all batch-id-addressed, idempotent overwrites, readers
``_SUCCESS``-gated via commitdirs.py):

    root/corpus/batch=<id>/   kept documents of that micro-batch
    root/bands/batch=<id>/    their exploded LSH keys (doc_id, band, band_hash)
    root/sigs/batch=<id>/     their minhash signatures (doc_id, signature)

Per batch:

1. ``minhash_index`` computes each new doc's signature + banded keys
   ONCE (barrier-protected — see operators/dedup.py on the projection-
   collapse trap).
2. STORE screen: new band rows equi-join the accumulated band store on
   ``(band, band_hash)`` → candidate (new, old) pairs; candidates are
   verified by the signature Jaccard estimate — only the candidate
   store ids' signatures are fetched (semi-join prune), never the
   store's corpus text.
3. WITHIN-batch screen: candidates among the batch itself (``id_a <
   id_b`` band join), verified the same way; verified pairs are then
   resolved TRANSITIVELY (connected components, operators/cluster.py)
   keeping each component's MIN id — exactly one canonical
   representative per near-dup cluster, matching batch
   dedup_cluster_canonical semantics. NOTE the deliberate semantic
   choice: cluster-canonical keeps FEWER docs than sequential greedy
   keep-first would (pairs (1,5),(2,5) form component {1,2,5}: only 1
   survives, though 2's only verified near-dup was 5) — near-dup
   similarity is treated as cluster membership, not a pairwise veto.
4. Survivors append corpus + bands + sigs as this batch's directories.

Exactly-once: a replayed micro-batch excludes its OWN directories from
the store reads (else it would judge all of its docs already-seen) and
overwrites them wholesale — the dedup_ingest contract.

Scale: the store side touches only the 24-byte band rows (bands/doc)
for candidate generation and the signatures of actual candidates
(num_hashes longs each) for verification. At 100 TB lay bands out
bucketed by ``pmod(band_hash, N)`` and co-bucket the batch to make the
candidate join Exchange-free; fold ``bands/batch=*`` with
``compact_parquet_dir`` periodically. Text never re-scans.

Approximate by design (LSH recall < 1, estimator stderr ≈
1/sqrt(num_hashes)); thresholds are the caller's precision/recall
dial. No reference counterpart (SURVEY.md §2.9 driver-mandated
extension family).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.cluster import connected_components
from ..operators.dedup import minhash_index, signature_jaccard
from .commitdirs import read_committed, start_foreach_batch, write_batch


def _read_store(
    spark: SparkSession, root: str, sub: str, schema: str,
    exclude_batch: int | None = None,
) -> DataFrame:
    return read_committed(spark, os.path.join(root, sub), schema, exclude_batch)


def read_corpus(spark: SparkSession, root: str) -> DataFrame:
    return read_committed(spark, os.path.join(root, "corpus"))


def ingest_batch(
    batch: DataFrame,
    root: str,
    id_col: str,
    text_col: str,
    batch_id: int,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> None:
    """Near-dup-dedup one micro-batch against the store and append the
    survivors (docs whose estimated Jaccard vs every kept doc — stored
    or earlier-in-batch — stays below ``threshold``)."""
    spark = batch.sparkSession
    idx = minhash_index(
        batch, id_col, text_col, num_hashes, bands, shingle_n
    ).persist()
    try:
        new_bands = idx.select(
            F.col(id_col), F.posexplode("bands").alias("band", "band_hash")
        )
        store_bands = _read_store(
            spark, root, "bands",
            f"{id_col} long, band int, band_hash long",
            exclude_batch=batch_id,
        )
        # store screen: candidates, then signature-verify only those
        cand = (
            new_bands.alias("n")
            .join(
                store_bands.alias("s"),
                (F.col("n.band") == F.col("s.band"))
                & (F.col("n.band_hash") == F.col("s.band_hash")),
            )
            .select(
                F.col(f"n.{id_col}").alias("__new_id"),
                F.col(f"s.{id_col}").alias("__old_id"),
            )
            .distinct()
        )
        store_sigs = _read_store(
            spark, root, "sigs",
            f"{id_col} long, signature array<bigint>",
            exclude_batch=batch_id,
        )
        cand_sigs = store_sigs.join(
            cand.select(F.col("__old_id").alias(id_col)).distinct(),
            id_col, "left_semi",
        )
        store_dups = (
            cand.join(
                idx.select(F.col(id_col).alias("__new_id"),
                           F.col("signature").alias("__sig_new")),
                "__new_id",
            )
            .join(
                cand_sigs.select(F.col(id_col).alias("__old_id"),
                                 F.col("signature").alias("__sig_old")),
                "__old_id",
            )
            .filter(
                signature_jaccard(F.col("__sig_new"), F.col("__sig_old"))
                >= threshold
            )
            .select(F.col("__new_id").alias(id_col))
            .distinct()
        )

        # within-batch screen among docs that survived the store screen
        alive = idx.join(store_dups, id_col, "left_anti")
        ab = alive.select(
            F.col(id_col), F.posexplode("bands").alias("band", "band_hash")
        )
        pair = (
            ab.alias("a")
            .join(
                ab.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("__id_a"),
                F.col(f"b.{id_col}").alias("__id_b"),
            )
            .distinct()
        )
        sig_of = alive.select(F.col(id_col), F.col("signature"))
        verified = (
            pair.join(
                sig_of.select(F.col(id_col).alias("__id_a"),
                              F.col("signature").alias("__sig_a")),
                "__id_a",
            )
            .join(
                sig_of.select(F.col(id_col).alias("__id_b"),
                              F.col("signature").alias("__sig_b")),
                "__id_b",
            )
            .filter(
                signature_jaccard(F.col("__sig_a"), F.col("__sig_b"))
                >= threshold
            )
            .select("__id_a", "__id_b")
        )
        # Transitive resolution: keep each near-dup component's MIN id
        # — the batch dedup_cluster_canonical convention (one canonical
        # per cluster; see the module docstring for how this differs
        # from per-pair or greedy-keep-first rules). The component
        # table is bounded by |nodes in verified pairs|, tiny vs the
        # batch.
        batch_dups = (
            connected_components(verified, src="__id_a", dst="__id_b")
            .filter(F.col("id") != F.col("comp"))
            .select(F.col("id").alias(id_col))
        )
        kept_idx = alive.join(batch_dups, id_col, "left_anti").persist()
        try:
            kept_docs = batch.join(
                kept_idx.select(id_col), id_col, "left_semi"
            )
            write_batch(kept_docs, os.path.join(root, "corpus"), batch_id)
            write_batch(
                kept_idx.select(
                    F.col(id_col), F.posexplode("bands").alias("band", "band_hash")
                ),
                os.path.join(root, "bands"),
                batch_id,
            )
            write_batch(
                kept_idx.select(id_col, "signature"),
                os.path.join(root, "sigs"),
                batch_id,
            )
        finally:
            kept_idx.unpersist()
    finally:
        idx.unpersist()


def run_neardup_ingest_stream(
    docs: DataFrame,
    root: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> StreamingQuery:
    """readStream of documents → per-micro-batch near-dup ingest."""
    return start_foreach_batch(
        docs,
        lambda b, bid: ingest_batch(
            b, root, id_col, text_col, bid, threshold=threshold
        ),
        checkpoint,
    )

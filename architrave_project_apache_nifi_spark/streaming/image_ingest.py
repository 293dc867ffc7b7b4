"""Streaming perceptual-image near-dup ingestion: images arriving on a
stream are deduped against everything already ingested by dHash +
Hamming banding — the image twin of ``neardup_ingest`` (text
minhash-LSH) and the continuous form of the batch
``multimodal_image_neardup`` chain (operators/imagehash.py).

Store layout (batch-id-addressed, idempotent overwrites, readers
``_SUCCESS``-gated via commitdirs.py — the shared store protocol):

    root/corpus/batch=<id>/   kept image rows of that micro-batch
    root/hashes/batch=<id>/   their (id, dhash) — 8 bytes per image

Per batch:

1. ``image_dhash`` decodes each new image ONCE (map-only Arrow) —
   after this the pipeline never touches pixels again.
2. STORE screen: band keys are DERIVED from the stored 8-byte hash on
   both sides (``dhash_bands`` — unlike minhash, the bands need no
   separate store: four unsigned shifts reconstruct them), candidates
   equi-join on (band, band_val), verify is exact
   ``bit_count(xor) <= max_distance`` on candidate pairs only.
3. WITHIN-batch screen: ``dhash_neardups`` among the store survivors;
   verified pairs resolve TRANSITIVELY (connected components) keeping
   each component's MIN id — the ``neardup_ingest`` convention (one
   canonical per cluster, not a pairwise veto).
4. Survivors append corpus + hashes as this batch's directories.

Exactly-once: a replayed micro-batch excludes its OWN directories from
the store reads and overwrites them wholesale — the dedup_ingest
contract.

Scale: the store side of the screen touches ONLY the 8-byte hash
column (vs 24-byte band rows + signature arrays for minhash — a
64-bit perceptual hash is its own signature); pixels decode exactly
once, on arrival. Recall contract: pigeonhole-complete for
``max_distance < n_bands``, enforced by ``dhash_neardups``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.cluster import connected_components
from ..operators.imagehash import dhash_bands, dhash_neardups, image_dhash
from .commitdirs import read_committed, start_foreach_batch, write_batch


def _read_hash_store(
    spark: SparkSession, root: str, id_col: str,
    exclude_batch: int | None = None,
) -> DataFrame:
    schema = f"{id_col} long, dhash long"
    return read_committed(spark, os.path.join(root, "hashes"), schema, exclude_batch)


def read_image_corpus(spark: SparkSession, root: str) -> DataFrame:
    return read_committed(spark, os.path.join(root, "corpus"))


def ingest_image_batch(
    batch: DataFrame,
    root: str,
    id_col: str,
    batch_id: int,
    media_col: str = "media",
    max_distance: int = 3,
    n_bands: int = 4,
) -> None:
    """Near-dup-dedup one image micro-batch against the store and
    append the survivors (images farther than ``max_distance`` dHash
    bits from every kept image — stored or earlier-in-batch)."""
    spark = batch.sparkSession
    hashes = image_dhash(batch, id_col, media_col).persist()
    try:
        store = _read_hash_store(spark, root, id_col, exclude_batch=batch_id)
        # store screen: banded candidates (bands derived from the
        # 8-byte hashes on both sides), then exact Hamming verify on
        # candidates only
        nb = dhash_bands(hashes, id_col, n_bands=n_bands)
        sb = dhash_bands(store, id_col, n_bands=n_bands)
        cand = (
            nb.alias("n")
            .join(
                sb.alias("s"),
                (F.col("n.band") == F.col("s.band"))
                & (F.col("n.band_val") == F.col("s.band_val")),
            )
            .select(
                F.col(f"n.{id_col}").alias("__new_id"),
                F.col(f"s.{id_col}").alias("__old_id"),
            )
            .distinct()
        )
        store_dups = (
            cand.join(
                hashes.select(F.col(id_col).alias("__new_id"),
                              F.col("dhash").alias("__h_new")),
                "__new_id",
            )
            .join(
                store.select(F.col(id_col).alias("__old_id"),
                             F.col("dhash").alias("__h_old")),
                "__old_id",
            )
            .filter(
                F.bit_count(F.col("__h_new").bitwiseXOR(F.col("__h_old")))
                <= max_distance
            )
            .select(F.col("__new_id").alias(id_col))
            .distinct()
        )

        # within-batch screen among store survivors; transitive min-id
        # resolution (the neardup_ingest convention)
        alive = hashes.join(store_dups, id_col, "left_anti")
        verified = dhash_neardups(
            alive, id_col, max_distance=max_distance, n_bands=n_bands
        )
        batch_dups = (
            connected_components(verified, src="id_a", dst="id_b")
            .filter(F.col("id") != F.col("comp"))
            .select(F.col("id").alias(id_col))
        )
        kept = alive.join(batch_dups, id_col, "left_anti").persist()
        try:
            write_batch(
                batch.join(kept.select(id_col), id_col, "left_semi"),
                os.path.join(root, "corpus"),
                batch_id,
            )
            write_batch(
                kept.select(id_col, "dhash"), os.path.join(root, "hashes"), batch_id
            )
        finally:
            kept.unpersist()
    finally:
        hashes.unpersist()


def run_image_ingest_stream(
    images: DataFrame,
    root: str,
    checkpoint: str,
    id_col: str = "doc_id",
    media_col: str = "media",
    max_distance: int = 3,
    n_bands: int = 4,
) -> StreamingQuery:
    """readStream of image rows → per-micro-batch near-dup ingest."""
    return start_foreach_batch(
        images,
        lambda b, bid: ingest_image_batch(
            b, root, id_col, bid, media_col=media_col,
            max_distance=max_distance, n_bands=n_bands,
        ),
        checkpoint,
    )

"""Deduplication operators (driver-mandated extension, SURVEY.md §2.9).

Not in the reference (its only uniqueness mechanism is the SCD2
``Is_current`` protocol); these are the dedup family a 100 TB training-
data pipeline needs. All hot paths are native Column expressions —
shingling, hashing, banding all run JVM-side inside codegen; no Python
UDFs.

Scale design:
- exact dedup: one shuffle on the dedup key (hash aggregate).
- MinHash-LSH: signatures are computed map-side (explode shingles →
  one hash-agg per doc), banding converts O(n²) pair search into a
  self-equi-join on (band, band_hash) — only colliding docs meet.
  At 100 TB tune ``num_hashes``/``bands``; oversized (band, hash)
  buckets — near-identical doc families resurrecting the quadratic
  blowup as skew — are SALTED into ≤ ``max_band_bucket``-sized groups
  (see ``minhash_lsh_candidates``), bounding every join task's pair
  output by cap².
- SimHash: one 64-bit fingerprint per doc; near-dups = equal fingerprint
  (or small Hamming distance via band rotation); one shuffle.
- n-gram Jaccard: exact verification on candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    """Whitespace tokenization (lowercased)."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings: ``transform(sequence(...))``
    stays in codegen; slice+concat_ws builds each shingle."""
    t = tokens(text)
    return F.when(
        F.size(t) < n, F.array(F.concat_ws(" ", t))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
        )
    )


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(``__id``, ``__shs``) with the deduped shingle set materialized
    behind an exchange barrier as ``ARRAY<BIGINT>``: each shingle STRING
    is hashed exactly once (``xxhash64``) before the barrier, and every
    downstream consumer (minhash rehash families, Jaccard intersection,
    explode-join keys) operates on the 8-byte longs. Rehashing a long is
    fixed-cost vs rehashing a 20-40 byte shingle string per hash
    function — measured 2.1× on the 64-function signature stage — and
    the barrier shuffle moves longs, not strings. Set semantics are
    preserved up to the already-accepted 2^-64 per-pair hash-collision
    odds.

    Two deliberate cheap shuffles of row-sized data:
    1. ``repartition()`` of the raw (id, text) rows — parquet scans of
       few/small files yield few input splits, which would serialize the
       CPU-heavy shingling onto a handful of cores;
    2. ``repartition(__id)`` AFTER computing the array — an exchange is
       a physical materialization point, so every downstream reference
       to ``__shs`` reads a row field. Without it, Catalyst collapses
       projections and generators re-evaluate the whole
       split+slice+concat expression tree per exploded output row
       (measured 36× blowup at sf0.1).
    Both shuffles move one row per doc; at 100 TB that is noise next to
    the pair-generation they feed. Partition counts are explicit
    (cluster parallelism) — AQE's coalescer sizes partitions by BYTES
    and would collapse these small-but-CPU-heavy stages onto one core."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    ).repartition(n_parts, F.col("__id"))
    return base.select(
        "__id",
        F.transform(
            F.array_distinct(shingles(F.col("__text"), shingle_n)),
            lambda s: F.xxhash64(s),
        ).alias("__shs"),
    ).repartition(n_parts, F.xxhash64(F.col("__id")))


# --- Arrow/numpy minhash band path (r8, VERDICT r7 #6 adjudication) ---
# Bit-exact numpy replication of Spark's xxhash64 so the Arrow stage is
# a drop-in plan swap: same shingle hashes in, same band keys out. Spark
# hashes multi-arg xxhash64 by folding each argument through the 8-byte
# (long) or 4-byte (int) XXH64 short path with the running hash as seed;
# constants and rotations below mirror that (verified element-wise
# against F.xxhash64 in tests/test_dedup.py::test_arrow_band_path).

_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _np_xxh64(v, seed, *, nbytes: int):
    """XXH64 of one 8-byte (long) or 4-byte (int) value; ``v`` and
    ``seed`` are uint64 scalars/arrays. Mod-2⁶⁴ wraparound IS the
    algorithm — numpy only flags it on SCALAR operands (arrays wrap
    silently), so the errstate suppresses the per-scalar
    RuntimeWarnings the band fold's accumulator steps would emit."""
    import numpy as np

    u = np.uint64
    p1, p2, p3, p4, p5 = (u(_XXH_P1), u(_XXH_P2), u(_XXH_P3), u(_XXH_P4),
                          u(_XXH_P5))

    def rotl(x, r):
        return (x << u(r)) | (x >> u(64 - r))

    with np.errstate(over="ignore"):
        if nbytes == 8:
            h = seed + p5 + u(8)
            k1 = rotl(v * p2, 31) * p1
            h = rotl(h ^ k1, 27) * p1 + p4
        else:
            h = seed + p5 + u(4)
            h = rotl(h ^ ((v & u(0xFFFFFFFF)) * p1), 23) * p2 + p3
        h ^= h >> u(33)
        h *= p2
        h ^= h >> u(29)
        h *= p3
        h ^= h >> u(32)
    return h


def _np_band_keys(cells, num_hashes: int, bands: int):
    """Band keys for a batch of pre-hashed shingle arrays — the numpy
    twin of the ``minhash_lsh_candidates`` band expression:
    ``band[b] = fold(xxhash64, 0L, [min_i xxhash64(sh, i)])``. Returns
    an int64 (ndocs, bands) matrix plus the int64 (ndocs, num_hashes)
    signature matrix (callers wanting signatures reuse the same pass).

    Null/empty cells replicate the expression semantics: every minimum
    is NULL, and Spark's xxhash64 SKIPS null arguments, so the band
    fold degenerates to ``acc = xxh64_long(acc, seed=42)`` per row of
    the band (pinned in the parity test with a null-text doc)."""
    import numpy as np

    u64 = np.uint64
    rows_per_band = num_hashes // bands
    lengths = np.fromiter(
        (0 if c is None else len(c) for c in cells), dtype=np.int64,
        count=len(cells),
    )
    good = lengths > 0
    flat = (
        np.concatenate([np.asarray(c, dtype=np.int64) for c in cells if
                        c is not None and len(c)])
        if good.any() else np.empty(0, dtype=np.int64)
    )
    starts = np.zeros(int(good.sum()), dtype=np.int64)
    if len(starts) > 1:
        np.cumsum(lengths[good][:-1], out=starts[1:])
    h42 = _np_xxh64(flat.view(u64), u64(42), nbytes=8)

    sig_good = np.empty((int(good.sum()), num_hashes), dtype=np.int64)
    for i in range(num_hashes):
        full = _np_xxh64(u64(i), h42, nbytes=4).view(np.int64)
        if len(starts):
            sig_good[:, i] = np.minimum.reduceat(full, starts)
    band_good = np.zeros((sig_good.shape[0], bands), dtype=np.uint64)
    for b in range(bands):
        acc = np.zeros(sig_good.shape[0], dtype=np.uint64)
        for r in range(rows_per_band):
            m = sig_good[:, b * rows_per_band + r].view(np.uint64)
            acc = _np_xxh64(m, _np_xxh64(acc, u64(42), nbytes=8), nbytes=8)
        band_good[:, b] = acc

    # null/empty docs: acc folds over NULL mins — each step only
    # rehashes the accumulator. The fill stays in uint64 end-to-end
    # (np.full + .view): numpy>=2 raises OverflowError converting an
    # out-of-int64-range uint64 scalar via np.int64(acc).
    acc = u64(0)
    for _ in range(rows_per_band):
        acc = _np_xxh64(acc, u64(42), nbytes=8)
    band = np.full((len(cells), bands), acc, dtype=np.uint64).view(np.int64)
    band[good] = band_good.view(np.int64)
    return good, sig_good, band


# Measured crossover (`git show 553315e:scripts/adjudicate_minhash_arrow.py`,
# isolated fresh-JVM min-of-passes): sf0.1 (5k docs) expr 1.67 s vs arrow 2.91 s
# (fixed Arrow transfer dominates); sf1 (50k docs) expr 5.72 s vs arrow
# 4.28 s (1.34×, over the ship bar). Linear fixed+per-doc fit puts the
# break-even at ~26k docs of this corpus shape.
_ARROW_BANDS_MIN_DOCS = 25_000
# Driver-side footer budget for the unknowable-plan fallback (mirrors
# skew_windows._MAX_FOOTER_FILES): past this many files the input is a
# real multi-file dataset that dwarfs the ~26k-doc crossover.
_BAND_FOOTER_FILE_CAP = 256


def _auto_band_impl(df: DataFrame, threshold: int = _ARROW_BANDS_MIN_DOCS) -> str:
    """Zero-job scale switch for ``band_impl="auto"`` — the same
    parquet-footer bound the skew gate uses (VERDICT r7 #6 adjudicated
    at sf1: arrow ≥1.3× there, 1.7× SLOWER at sf0.1, so neither is a
    safe static default). Over ``threshold`` docs → arrow; provably
    small → expr. Unknowable plan shapes fall back to the leaf scans'
    total footer rows (r9, then expr when even that is unavailable —
    local relations, non-parquet leaves). The decision is perf-only —
    both paths are bit-exact."""
    from .skew_windows import row_count_upper_bound

    bound = row_count_upper_bound(df, threshold + 1)
    if bound is not None:
        return "arrow" if bound > threshold else "expr"
    # Bound unknowable (the plan shape isn't whitelisted — joins,
    # aggregates, exotic nodes). Fall back to the total footer rows of
    # the leaf scans: for row-REDUCING shapes that over-estimates doc
    # count (may pick arrow on few docs — the bounded perf trade), for
    # row-increasing ones it under-estimates (keeps expr, today's
    # default) — either miss is bounded, and unlike the pre-r9
    # ">64 files" heuristic the signal is actual data volume.
    try:
        files = df.inputFiles()
        if len(files) > _BAND_FOOTER_FILE_CAP:
            return "arrow"  # genuinely huge multi-file dataset
        if files and all(f.endswith(".parquet") for f in files):
            import pyarrow.parquet as pq

            total = 0
            for f in files:
                path = f[7:] if f.startswith("file://") else f
                total += pq.ParquetFile(path).metadata.num_rows
                if total > threshold:
                    return "arrow"
            return "expr"
    except Exception:
        pass
    return "expr"


def _arrow_bands(
    shs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """``(id, __bands)`` via one Arrow-batched ``mapInPandas`` pass over
    the materialized shingle sets — the vectorized twin of the band
    expression in :func:`minhash_lsh_candidates`. The expression path's
    nested array ``transform``/``aggregate`` lambdas run INTERPRETED
    per element (the r5 measured HOF trap); this pass does the same
    ``num_hashes × |shingles|`` hash work as ~10 uint64 vector ops per
    hash function over the whole Arrow batch."""
    id_type = dict(shs.dtypes)["__id"]
    out_schema = f"`{id_col}` {id_type}, __bands array<bigint>"

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            good, _sig, band = _np_band_keys(
                list(pdf["__shs"]), num_hashes, bands
            )
            yield pd.DataFrame(
                {id_col: pdf["__id"], "__bands": list(band)}
            )

    return shs.mapInPandas(gen, out_schema)


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: keep the smallest id per identical text. One hash
    aggregate; at scale pre-hash the text (``xxhash64``) so the shuffle
    key is 8 bytes, not the document."""
    return (
        df.groupBy(F.col(text_col))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 64, shingle_n: int = 3
) -> DataFrame:
    """MinHash signature per document.

    ``xxhash64(shingle_hash, seed_i)`` per hash function; ``min`` per
    doc = the classic min-wise estimator over a strong base hash,
    computed as a nested array transform over the materialized
    (pre-hashed, see ``_shingle_sets``) shingle array. Duplicate
    shingles cannot change a min, so no per-doc dedup aggregation is
    needed. One row in → one row out; the only shuffles are the
    row-sized barriers in ``_shingle_sets``."""
    shs = _shingle_sets(df, id_col, text_col, shingle_n)
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(F.col("__shs"), lambda s: F.xxhash64(s, i))
        ),
    )
    return shs.select(F.col("__id").alias(id_col), sig.alias("signature"))


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc ``(id, signature, bands)`` — the minhash signature plus
    its banded LSH keys, computed ONCE per row for index-building
    workloads (streaming near-dup ingest stores both: band rows for
    candidate joins, signatures for verification).

    The band fold reads the ``signature`` column AFTER an exchange
    barrier, so it reads a materialized row field — computing bands
    from an un-materialized signature expression would let Catalyst
    inline the whole 64-min tree into every band lambda (the measured
    60× regression documented in :func:`minhash_lsh_candidates`).
    Output ``bands`` is ``ARRAY<BIGINT>`` (index = band id)."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n
    ).repartition(n_parts, F.xxhash64(F.col(id_col)))
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.aggregate(
            F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
            F.lit(0).cast("long"),
            lambda acc, m: F.xxhash64(acc, m),
        ),
    )
    return sigs.select(F.col(id_col), "signature", band_arr.alias("bands"))


def signature_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """MinHash Jaccard ESTIMATE: fraction of agreeing signature
    components (the unbiased min-wise estimator; stderr ≈
    1/sqrt(num_hashes) ≈ 0.125 at 64 hashes)."""
    return F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v)
    ) / F.size(sig_a)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int | None = 16,
    shingle_n: int = 3,
    max_band_bucket: int | None = None,
    band_impl: str = "auto",
    threshold: float | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH: docs agreeing on any
    full band of ``num_hashes/bands`` minhashes collide. Returns
    distinct (id_a < id_b) pairs.

    ``band_impl``: ``"expr"`` computes band keys as the Column
    expression below; ``"arrow"`` routes them through the bit-exact
    numpy twin :func:`_arrow_bands` (same keys, same pairs —
    parity-pinned in tests). The expression's nested array lambdas run
    INTERPRETED per element, so the Arrow path wins once per-doc
    shingle counts × num_hashes dominate the stage — measured 1.34× at
    sf1, 1.7× SLOWER at sf0.1 where the fixed Arrow transfer dominates
    (BASELINE.md r8 adjudication). ``"auto"`` (default) picks by a
    zero-job parquet-footer doc-count bound (:func:`_auto_band_impl`),
    so the gate/bench scale keeps the expression plan and a production
    corpus gets the vectorized one.

    Band hashes are computed straight from the materialized (pre-hashed)
    shingle array in ONE projection — each of the ``num_hashes`` minima
    is evaluated exactly once per row (building them via an intermediate
    ``signature`` column would let Catalyst inline that expression into
    the per-band lambda, re-evaluating it per band — the measured 60×
    regression). Each band's minima fold into one 64-bit key via an
    ``xxhash64`` chain (pure long arithmetic — no string casts). The
    band array is then materialized behind an exchange barrier so the
    posexplode generator reads a row field.

    HOT-BAND SALTING (``max_band_bucket``): a skewed corpus — one
    near-identical doc family ×10⁴⁺ — puts the whole family in ONE
    (band, band_hash) bucket, and the self-equi-join makes that single
    task emit |bucket|² pairs: the quadratic blowup banding exists to
    prevent, resurrected as skew. Buckets whose member count exceeds
    the cap are split into ``ceil(count / cap)`` salt groups; the join
    key becomes (band, band_hash, salt), bounding every task's pair
    output by cap². The salt is ``xxhash64(id, band) % n_salts`` — a
    pair separated in one band gets an independent draw in every other
    colliding band, so for a family colliding in k bands a pair
    survives with probability 1 − (1 − 1/s)^k (≈0.99 for s=4, k=16);
    transitive consumers (cluster canonicalization, dedup) reconnect
    the family through surviving chains. The documented trade: direct
    pair recall inside oversized buckets drops — which is why salting
    is OPT-IN (default ``None``): a caller consuming the pairs
    non-transitively (no connected-components step) would otherwise
    lose in-family pairs with no signal (ADVICE r5). Transitive
    consumers on skew-prone corpora should pass an explicit cap
    (10_000 bounds any task's pair output to 10⁸ — the production
    setting); unsalted, one 10⁵-doc family is a 10¹⁰-pair task.
    Detection costs one count-agg over the 16-byte band rows
    plus a join against the hot set, which is empty/tiny by definition
    (|hot| ≤ band_rows / cap) — AQE sizes the materialized agg stage at
    runtime and broadcasts when it fits, shuffle-joins when an
    adversarial corpus inflates it (no hint, no eager count; see
    ``_salt_hot_bands``).

    ``threshold``: pass a target Jaccard with ``bands=None`` and the
    band count comes from :func:`lsh_plan` (S-curve knee at the
    threshold) instead of being hand-picked."""
    if bands is None:
        if threshold is None:
            raise ValueError("pass bands explicitly or a threshold")
        bands, _rows, _est = lsh_plan(num_hashes, threshold)
    assert num_hashes % bands == 0
    if band_impl == "auto":
        band_impl = _auto_band_impl(df)
    if band_impl not in ("expr", "arrow"):
        raise ValueError(
            f"band_impl must be 'expr', 'arrow' or 'auto', got {band_impl!r}"
        )
    rows_per_band = num_hashes // bands
    shs = _shingle_sets(df, id_col, text_col, shingle_n)
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.aggregate(
            F.transform(
                F.sequence(b * rows_per_band, (b + 1) * rows_per_band - 1),
                lambda i: F.array_min(
                    F.transform(F.col("__shs"), lambda h: F.xxhash64(h, i))
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, m: F.xxhash64(acc, m),
        ),
    )
    with_bands = (
        _arrow_bands(shs, id_col, num_hashes, bands)
        if band_impl == "arrow"
        else shs.select(F.col("__id").alias(id_col), band_arr.alias("__bands"))
    )
    banded = (
        with_bands
        .repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
        .select(
            F.col(id_col),
            F.posexplode(F.col("__bands")).alias("band", "band_hash"),
        )
    )
    if max_band_bucket:
        banded = _salt_hot_bands(banded, id_col, max_band_bucket)
        salt_match = F.col("a.__salt") == F.col("b.__salt")
    else:
        salt_match = F.lit(True)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & salt_match
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def _salt_hot_bands(
    banded: DataFrame,
    id_col: str,
    max_band_bucket: int,
    sample_denom: int = 100,
) -> DataFrame:
    """Append ``__salt`` to (id, band, band_hash) rows: 0 for buckets
    within the cap, ``xxhash64(id, band) % ceil(count/cap)`` for
    oversized ones (see :func:`minhash_lsh_candidates`).

    Detection counts a DETERMINISTIC 1/``sample_denom`` id-hash sample
    of the band rows, not the full set — the cap is an
    order-of-magnitude straggler guard, not an exact quota, and a truly
    hot bucket (>cap ≫ sample_denom members) lands ≥cap/denom sampled
    rows with tight concentration while the detection shuffle shrinks
    ×denom. Estimated counts (sampled × denom) size the salt modulus;
    borderline buckets (≈cap) may be missed or split one notch early —
    both harmless. Pass ``sample_denom=1`` for exact counting (tests).

    The hot set carries NO broadcast hint and triggers NO eager job: it
    is empty or tiny by definition (|hot| ≤ band_rows / cap), but an
    adversarial corpus could inflate it, so AQE's measured runtime
    size — it materializes this agg stage before planning the join —
    picks broadcast when it fits and degrades to a shuffle join when it
    doesn't, keeping the operator fully lazy."""
    sampled = banded
    if sample_denom > 1:
        sampled = banded.filter(
            F.pmod(F.xxhash64(F.col(id_col), F.lit(0x5A17)), sample_denom)
            == 0
        )
    hot = (
        sampled.groupBy("band", "band_hash")
        .agg((F.count(F.lit(1)) * sample_denom).alias("__cnt"))
        .filter(F.col("__cnt") > max_band_bucket)
    )
    salted = banded.join(hot, ["band", "band_hash"], "left")
    n_salts = F.ceil(F.col("__cnt") / F.lit(max_band_bucket))
    salt = F.when(F.col("__cnt").isNull(), F.lit(0).cast("int")).otherwise(
        F.pmod(F.xxhash64(F.col(id_col), F.col("band")), n_salts).cast("int")
    )
    return salted.withColumn("__salt", salt).drop("__cnt")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    |A∩B| via shingle-equality self-join + count; |A∪B| = |A|+|B|−|A∩B|.
    At 100 TB this runs AFTER LSH candidate generation (pass the
    candidate pairs in and semi-join); standalone it is quadratic only
    in docs sharing a shingle.

    Shuffle budget: per-doc shingle sets are deduped map-side
    (``array_distinct`` — no dropDuplicates shuffle), set sizes ride
    along the exploded rows (no separate sizes aggregation or re-join),
    and the self-join key is the 8-byte ``xxhash64`` of the shingle
    (pre-computed in ``_shingle_sets``), not the shingle string (2^-64
    collision odds; cheaper shuffle + compare). Net: ONE join + ONE
    pair aggregation on top of the row-sized ``_shingle_sets``
    barriers."""
    sh = _shingle_sets(df, id_col, text_col, shingle_n).select(
        "__id",
        F.size("__shs").alias("__n"),
        F.explode(F.col("__shs")).alias("__sh"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.__sh") == F.col("b.__sh")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.min("a.__n").alias("n_a"),
            F.min("b.__n").alias("n_b"),
        )
    )
    return (
        common.withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def verify_candidate_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard on a given candidate-pair set — the
    verification stage of the composed LSH pipeline (candidates come
    from ``minhash_lsh_candidates``; false positives are filtered here,
    so only LSH recall matters).

    ``candidates`` must have columns (id_a, id_b). Each side's deduped
    shingle array is joined onto the pair row, then the intersection is
    computed per pair with ``array_intersect`` — no shingle explosion,
    no quadratic self-join: cost is O(|candidates| · shingles-per-doc),
    and the two joins shuffle only the candidate pairs plus one
    shingle-array row per referenced doc. At 100 TB this is the scale
    path: LSH bounds |candidates|, verification stays linear in it."""
    shs = _shingle_sets(df, id_col, text_col, shingle_n)
    a = shs.select(
        F.col("__id").alias("id_a"), F.col("__shs").alias("__shs_a")
    )
    b = shs.select(
        F.col("__id").alias("id_b"), F.col("__shs").alias("__shs_b")
    )
    paired = (
        candidates.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    )
    n_common = F.size(F.array_intersect(F.col("__shs_a"), F.col("__shs_b")))
    jaccard = n_common / (
        F.size("__shs_a") + F.size("__shs_b") - n_common
    )
    return (
        paired.select("id_a", "id_b", jaccard.alias("__j"))
        .filter(F.col("__j") >= threshold)
        .select("id_a", "id_b", F.round("__j", 6).alias("jaccard"))
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash fingerprint: per-token 64-bit hash, per-bit majority vote.

    Folds the token-hash list with ``aggregate``/``zip_with`` into a
    64-dim vote vector — one row per doc. One explicit row-sized
    repartition spreads the CPU-heavy fold across cores (small parquet
    inputs arrive as a single split)."""
    df = df.select(F.col(id_col), F.col(text_col)).repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    tok_hashes = F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t))
    # One fold over the token hashes producing all 64 bit-votes at once
    # (shift amounts must be Python ints, so the bit loop is unrolled
    # into the expression — still a single pass, still codegen).
    votes = F.aggregate(
        tok_hashes,
        F.array(*[F.lit(0).cast("long") for _ in range(bits)]),
        lambda acc, h: F.array(
            *[
                acc[b]
                + F.when(
                    F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
                for b in range(bits)
            ]
        ),
    )
    fingerprint = F.lit(0).cast("long")
    for b in range(bits):
        fingerprint = fingerprint.bitwiseOR(
            F.when(votes[b] > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return df.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Docs sharing an identical simhash (near-dup buckets)."""
    s = simhash(df, id_col, text_col)
    return (
        s.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_col: str | None = None,
    max_unblocked_rows: int = 20_000,
) -> DataFrame:
    """Near-dup pairs by embedding cosine similarity.

    ``block_col`` bounds the pair space (compare only within a block —
    a label, an LSH bucket from similarity.lsh_bucket, a shard).

    Dense pairwise vector math is the one place row-at-a-time Column
    expressions lose badly, so each block is scored as ONE Arrow batch
    via ``applyInPandas``: a float64 gram matrix (BLAS ``X @ X.T``),
    upper triangle thresholded. One shuffle (the groupBy on the block
    key); per-block cost is a single matmul. At 100 TB the blocks are
    LSH buckets (bounded size), so every task stays O(bucket²·dim)
    with vectorized arithmetic, never O(corpus²).

    ``block_col=None`` collapses the WHOLE input into one block — one
    gram matrix on one executor, O(n²·dim) memory and compute. That is
    only sane for small corpora, so it is guarded: if the unblocked
    input exceeds ``max_unblocked_rows`` this raises instead of
    silently scheduling a task that would OOM an executor at scale
    (pass a ``block_col`` — e.g. ``similarity.lsh_bucket`` output — or
    raise the bound explicitly to override)."""
    import numpy as np
    import pandas as pd

    if block_col is None:
        # footer-boundable input under the cap → guard satisfied with
        # zero jobs (r8); otherwise the pre-r8 bounded limit+count
        from .skew_windows import row_count_upper_bound

        bound = row_count_upper_bound(df, max_unblocked_rows + 1)
        if bound is not None and bound <= max_unblocked_rows:
            n = bound
        else:
            n = df.limit(max_unblocked_rows + 1).count()
        if n > max_unblocked_rows:
            raise ValueError(
                f"embedding_neardup_pairs(block_col=None) over >"
                f"{max_unblocked_rows} rows would build one O(n²) gram "
                "matrix on ONE executor. Pass block_col (e.g. a "
                "similarity.lsh_bucket bucket) or raise "
                "max_unblocked_rows if you really mean it."
            )

    blk = block_col if block_col is not None else "__blk"
    base = df.select(
        F.col(id_col).alias("__id"),
        (F.col(block_col) if block_col else F.lit(0)).alias(blk),
        F.col(vec_col).alias("__v"),
    )

    def gram(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id")
        ids = pdf["__id"].to_numpy()
        X = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        nrm = np.sqrt((X * X).sum(axis=1))
        S = (X @ X.T) / np.outer(nrm, nrm)
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = S[ia, ib] >= threshold
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cosine": np.round(S[ia[keep], ib[keep]], 6),
            }
        )

    return base.groupBy(blk).applyInPandas(gram, "id_a long, id_b long, cosine double")


def content_fingerprints(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(``fp``, ``first_id``) — the 8-byte exact-content fingerprint
    store: one row per distinct text, keyed by ``xxhash64(text)`` with
    the smallest id that carried it. This is the persistable artifact
    incremental dedup joins against: 16 bytes/distinct-doc, so the
    store for a 100 TB corpus is ~100 GB — write it partitioned by
    ``pmod(fp, N)`` and the incremental anti-join co-partitions on the
    same key without touching document text."""
    return (
        df.select(
            F.xxhash64(F.col(text_col)).alias("fp"),
            F.col(id_col).cast("long").alias("__id"),
        )
        .groupBy("fp")
        .agg(F.min("__id").alias("first_id"))
    )


def dedup_incremental(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Dedup an incoming batch against an existing fingerprint store
    WITHOUT rescanning the historical corpus — the append-path dedup a
    continuously-ingesting pipeline runs per batch.

    ``store`` is a :func:`content_fingerprints` output (or a parquet
    read of one). A new document survives iff (a) its content hash is
    absent from the store and (b) it is the min-id holder of that hash
    within its own batch. Returns every incoming row annotated:
    (``id``, ``fp``, ``dup_of_store``, ``is_kept``).

    Scale: the batch never carries text past the first projection —
    both the store join and the within-batch argmin run on the 8-byte
    hash. The store side is a parquet scan of (fp, first_id) only;
    with both sides bucketed by ``pmod(fp, N)`` the anti-join is
    Exchange-free. The within-batch argmin is an ALGEBRAIC min joined
    back, not a row_number window (r7): partial aggregation collapses
    even a corpus-sized mono-duplicate group map-side, where the window
    form would strand the whole group in one sort task — the same
    skew-immune-by-construction argument as the argmax
    latest-per-user rewrite (BASELINE.md §Skewed-key stress #4). With
    unique ids the outputs are identical; duplicate-id rows tie and
    are all marked kept (the window form picked one arbitrarily).
    """
    fps = new_docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.xxhash64(F.col(text_col)).alias("fp"),
    )
    mins = fps.groupBy("fp").agg(F.min(id_col).alias("__min_id"))
    st = store.select(F.col("fp"), F.lit(1).alias("__seen"))
    return (
        fps.join(mins, "fp")
        .join(st, "fp", "left")
        .select(
            id_col,
            "fp",
            F.coalesce(F.col("__seen"), F.lit(0)).cast("int").alias("dup_of_store"),
            (
                (F.col(id_col) == F.col("__min_id")) & F.col("__seen").isNull()
            ).cast("int").alias("is_kept"),
        )
    )


def span_duplication(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_n: int = 8,
    drop_threshold: float = 0.5,
) -> DataFrame:
    """Exact substring-level duplication score (the Spark-first shape
    of suffix-array substring dedup, Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): for each document,
    the fraction of its ``span_n``-token windows that also appear
    verbatim in at least one OTHER document.

    Returns (``id``, ``n_spans``, ``n_dup_spans``, ``dup_frac``,
    ``is_dropped``) with ``is_dropped`` = 1 when ``dup_frac`` ≥
    ``drop_threshold`` — the "mostly boilerplate" removal decision.

    Scale: spans are hashed to 8-byte longs map-side (the shingle
    machinery of :func:`_shingle_sets`); the cross-document span index
    is ONE hash aggregate on the span hash producing (span → the one
    or two doc-ids that carry it — ``min``/``max`` suffice to decide
    "appears elsewhere", so the agg state is O(1) per span, never a
    doc-id list); scoring is one join back on the span hash + one
    per-doc count. No self-join, no pair explosion: total shuffle =
    2 passes over the exploded span rows, linear in corpus tokens.
    """
    sh = _shingle_sets(df, id_col, text_col, span_n).select(
        "__id", F.explode("__shs").alias("__sp")
    )
    # Span index: min/max carrier ids decide multi-doc presence in O(1)
    # agg state (a span is duplicated across docs iff min != max).
    idx = sh.groupBy("__sp").agg(
        F.min("__id").alias("__lo"), F.max("__id").alias("__hi")
    )
    scored = (
        sh.join(idx, "__sp")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                (F.col("__lo") != F.col("__hi")).cast("bigint")
            ).alias("n_dup_spans"),
        )
    )
    dup_frac = F.col("n_dup_spans") / F.col("n_spans")
    return scored.select(
        F.col("__id").alias(id_col),
        "n_spans",
        "n_dup_spans",
        F.round(dup_frac, 6).alias("dup_frac"),
        (dup_frac >= drop_threshold).cast("int").alias("is_dropped"),
    )


def dedup_spans_rewrite(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_n: int = 8,
    max_pos_bits: int = 21,
) -> DataFrame:
    """Exact duplicated-SPAN REMOVAL — the rewrite half of suffix-array
    substring dedup (Lee et al. 2022): every occurrence of a
    ``span_n``-token window whose identical span appears ANYWHERE
    earlier in the corpus — an earlier position of the same doc
    (self-repetition) or any position of an earlier doc — has its
    tokens removed; the globally FIRST occurrence of each span
    survives. :func:`span_duplication` SCORES documents; this rewrites
    them.

    Contract: "earlier" is the total order ``(id, pos)`` (first
    occurrence wins, deterministic); a token is kept iff no non-first
    duplicate span covers it; output ``text`` is the kept tokens joined
    by single spaces (whitespace canonicalized for ALL docs, so
    untouched documents are stable under re-application). Returns
    (id, text, n_tokens, n_removed).

    Scale shape (the reason this is not a suffix array): span hashes
    are computed map-side from the token array behind the row barrier;
    the global first-occurrence index is ONE hash agg with O(1) state
    per span (min of the ``id·2^pos_bits + pos`` encoding — positions must fit
    ``max_pos_bits`` (assert_true per span row) and ids must be
    integral (checked eagerly; a string id would cast to NULL and
    silently disable removal)); duplicate positions fuse into disjoint intervals with a
    per-doc gaps-and-islands window (rows = dup spans only, a small
    subset); the rebuild slices the token array per interval with a
    fold over the per-doc interval list (tiny arrays — the
    higher-order-function interpreter cost is bounded by islands per
    doc, not corpus size). Total: two shuffles of 16-byte span rows +
    one doc-keyed join — linear in corpus tokens, no pair space, no
    giant suffix sort.
    """
    int_types = ("tinyint", "smallint", "int", "bigint", "long")
    id_dtype = dict(df.dtypes)[id_col]
    if id_dtype not in int_types:
        raise ValueError(
            f"dedup_spans_rewrite: id_col {id_col!r} has type {id_dtype!r};"
            " the first-occurrence order is the integer encoding"
            " id*2^max_pos_bits + pos, so ids must be integral (a string"
            " id would cast to NULL and silently disable all removal)."
        )
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    raw_toks = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = F.when(
        F.length(F.trim(F.col(text_col))) == 0,
        F.array().cast("array<string>"),
    ).otherwise(raw_toks)
    base = df.select(
        F.col(id_col).alias("__id"), toks.alias("__toks")
    ).repartition(n_parts, F.xxhash64(F.col("__id")))
    L = F.size(F.col("__toks"))
    span_arr = F.when(
        L >= span_n,
        F.transform(
            F.sequence(F.lit(0), L - span_n),
            lambda i: F.xxhash64(
                F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, span_n))
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    spans = base.select(
        "__id", F.posexplode(span_arr).alias("__p", "__sp")
    ).withColumn(
        "__k",
        # assert_true: a doc longer than 2^max_pos_bits tokens would
        # overflow pos into the id bits and silently corrupt the
        # first-occurrence order — fail loudly instead
        F.when(
            F.assert_true(
                F.col("__p") < F.lit(1 << max_pos_bits),
                F.lit(
                    f"dedup_spans_rewrite: position >= 2^{max_pos_bits};"
                    " raise max_pos_bits for very long documents"
                ),
            ).isNull(),
            F.col("__id").cast("long") * (1 << max_pos_bits) + F.col("__p"),
        ),
    )
    first = spans.groupBy("__sp").agg(F.min("__k").alias("__first"))
    dups = (
        spans.join(first, "__sp")
        .filter(F.col("__k") != F.col("__first"))
        .select("__id", "__p")
    )
    # gaps-and-islands over the (small) duplicate-position set per doc
    wd = Window.partitionBy("__id").orderBy("__p")
    prev_end = F.max(F.col("__p") + span_n).over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = dups.withColumn(
        "__new", (F.coalesce(prev_end, F.lit(-1)) < F.col("__p")).cast("int")
    ).withColumn(
        "__isl",
        F.sum("__new").over(
            wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ivs = (
        isl.groupBy("__id", "__isl")
        .agg(
            F.min("__p").alias("s"),
            (F.max("__p") + span_n).alias("e"),
        )
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("__ivs"))
    )
    joined = base.join(ivs, "__id", "left")
    ivs_col = F.coalesce(
        F.col("__ivs"), F.array().cast("array<struct<s:int,e:int>>")
    )
    # fold: cut the token array at each removal interval, keep the gaps
    acc0 = F.struct(
        F.lit(0).cast("int").alias("last"),
        F.array().cast("array<array<string>>").alias("parts"),
    )
    folded = F.aggregate(
        ivs_col,
        acc0,
        lambda acc, iv: F.struct(
            iv["e"].cast("int").alias("last"),
            F.concat(
                acc["parts"],
                F.array(
                    F.slice(
                        F.col("__toks"), acc["last"] + 1, iv["s"] - acc["last"]
                    )
                ),
            ).alias("parts"),
        ),
        lambda acc: F.flatten(
            F.concat(
                acc["parts"],
                F.array(
                    F.slice(F.col("__toks"), acc["last"] + 1, L - acc["last"])
                ),
            )
        ),
    )
    return joined.select(
        F.col("__id").alias(id_col),
        F.concat_ws(" ", folded).alias(text_col),
        L.alias("n_tokens"),
        (L - F.size(folded)).alias("n_removed"),
    )


def lsh_candidate_probability(s: float, bands: int, rows: int) -> float:
    """P(candidate) for a pair with true Jaccard similarity ``s`` under
    banded MinHash-LSH with ``bands`` bands of ``rows`` hashes:
    ``1 - (1 - s^rows)^bands`` (the MMDS S-curve). Pure math — used by
    :func:`lsh_plan` and by capacity planning around
    :func:`minhash_lsh_candidates`."""
    return 1.0 - (1.0 - s**rows) ** bands


def lsh_plan(num_hashes: int, threshold: float) -> tuple[int, int, float]:
    """Pick (bands, rows) for a signature of ``num_hashes`` hashes so
    the S-curve's steepest point sits at the target Jaccard
    ``threshold`` — the standard ``(1/b)^(1/r) ≈ t`` rule. Enumerates
    the divisor grid (num_hashes is 64-256 in practice; this is
    driver-side arithmetic, never a job) and returns
    ``(bands, rows, est_threshold)`` with ``bands * rows ==
    num_hashes`` exactly.

    Raising ``bands`` above the returned value trades false positives
    for recall (more candidate pairs to verify); lowering it trades
    recall for verification volume — both directions stay safe because
    the production pipeline ALWAYS exact-verifies candidates
    (``verify_candidate_pairs``); the plan only controls how much
    verification work the band join emits."""
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    best: tuple[int, int, float] | None = None
    for rows in range(1, num_hashes + 1):
        if num_hashes % rows:
            continue
        bands = num_hashes // rows
        est = (1.0 / bands) ** (1.0 / rows)
        if best is None or abs(est - threshold) < abs(best[2] - threshold):
            best = (bands, rows, est)
    assert best is not None
    return best

"""SCD2 (slowly-changing-dimension type 2) operators.

This is the live heart of the reference flow: CDC events are merged
into ``products_catalog_history`` with ``valid_from`` / ``valid_until``
/ ``Is_current`` columns (reference semantics: README.md:43-49 insert
route, README.md:102-123 update route; SCD2 stamping Jolt specs at
nifi/templates/final_template.xml:5286-5315 and :2402-2419; the expire
UPDATE at final_template.xml:4646-4797).

The reference implements the merge as two racing per-event JDBC writes
and has three documented bugs (README.md:186-195; SURVEY.md §2.8):
a second update to a key corrupts history, and expire/insert race.
We fix all three *by construction*: the merge is a single deterministic
DataFrame transformation — within a batch, versions are chained by a
window ``lead()``; the previously-current row is expired with the
batch's first change timestamp; expire-then-insert is one plan, so
there is nothing to race.

Scale notes (100 TB design point):
- ``scd2_build`` is one shuffle on the business key (window). No other
  shuffle: the SCD2 stamping is pure map-side.
- ``scd2_apply`` touches the huge history table with ONE broadcast-hash
  join against the (small) per-key first-change summary of the incoming
  micro-batch — history is never shuffled. The new-version chaining is
  a window over the batch only.
- Store the history table partitioned by ``is_current`` (sinks.py) so
  the ``Is_current='Y'`` lookup (the reference's hand-written pushdown,
  final_template.xml:1439) becomes partition pruning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SCD2_COLS = ("valid_from", "valid_until", "is_current")
#: The most per-key summary rows a merge broadcasts to every task.
MAX_BROADCAST_KEYS = 1_000_000


def _as_list(cols: str | Sequence[str]) -> list[str]:
    return [cols] if isinstance(cols, str) else list(cols)


def scd2_build(
    changes: DataFrame,
    key_cols: str | Sequence[str],
    ts_col: str,
    order_cols: Sequence[str] = (),
    tombstone_col: str | None = None,
    skew_protection: bool | str = "auto",
    hot_key_rows: int = 5_000_000,
    n_ts_buckets: int = 32,
) -> DataFrame:
    """Build a full SCD2 history from a change stream (batch formulation).

    Every input row is one version of the entity identified by
    ``key_cols``, effective at ``ts_col``. Output adds the three SCD2
    columns with half-open validity intervals
    (``valid_until[i] = valid_from[i+1]``, FIXTURES.md F2 invariants).

    ``order_cols`` break ties for equal timestamps (e.g. the CDC
    sequence id, FlowFile attr ``cdc.sequence.id`` in the reference) so
    the result is deterministic.

    ``tombstone_col`` (soft deletes — BEYOND the reference, which drops
    delete events on the floor, README.md:28 / router FT:1950-1955):
    rows where this boolean column is true are DELETE markers. They
    participate in the per-key chain — closing their predecessor's
    interval at the delete timestamp — but are filtered from the
    output, so a deleted key correctly ends with NO current row, and a
    later re-insert starts a fresh version. Zero extra shuffles: the
    tombstones ride the same window.

    One shuffle: the window partition on the key. At 100 TB this is the
    unavoidable shuffle of any per-key versioning. NOTE: AQE does NOT
    split skewed WINDOW partitions (only join partitions) — a business
    key carrying a large share of the stream becomes one straggler
    task. ``skew_protection="auto"`` (the default since r7) therefore
    runs ONE bounded sampled detection job (``has_hot_keys`` — same
    measured-not-guessed pattern as :func:`scd2_apply`'s broadcast
    sizing) and routes a corpus with a key above ``hot_key_rows``
    through :func:`scd2_build_skewed` (exact-equal output —
    tests/test_skew_core.py, oracle ``scd2_build_skew_salted``); a
    cold corpus keeps exactly this plan. Pass ``False`` for bounded
    micro-batches or expensive un-cached lineage (auto re-reads the
    input once), ``True`` to force the bucketed plan.
    """
    from .skew_windows import resolve_skew_protection

    engaged, edges = resolve_skew_protection(
        changes, key_cols, ts_col, skew_protection, hot_key_rows,
        n_ts_buckets,
        # order_cols (seq ids) salt the detection sample per-row, so a
        # hot key whose rows tie on coarse timestamps is still seen
        # (hot_ts_buckets sampling-limitation note)
        sample_salt_cols=order_cols,
    )
    if engaged:
        return scd2_build_skewed(
            changes, key_cols, ts_col, order_cols, tombstone_col,
            hot_key_rows, n_ts_buckets, hot_edges=edges,
        )
    keys = _as_list(key_cols)
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc() for c in [ts_col, *order_cols]]
    )
    nxt = F.lead(F.col(ts_col)).over(w)
    out = (
        changes.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_until", nxt)
        .withColumn(
            "is_current", F.when(nxt.isNull(), F.lit("Y")).otherwise(F.lit("N"))
        )
    )
    if tombstone_col is not None:
        out = out.filter(~F.col(tombstone_col)).drop(tombstone_col)
    return out


def scd2_build_skewed(
    changes: DataFrame,
    key_cols: str | Sequence[str],
    ts_col: str,
    order_cols: Sequence[str] = (),
    tombstone_col: str | None = None,
    hot_key_rows: int = 5_000_000,
    n_ts_buckets: int = 32,
    hot_edges: "DataFrame | None" = None,
) -> DataFrame:
    """:func:`scd2_build` with HOT-KEY time-range salting — exact same
    output (property-tested equality + the DuckDB oracle), resilient to
    a single business key carrying an outsized share of the change
    stream.

    Why: the per-key window shuffle is the build's one unavoidable
    exchange, and AQE splits skewed JOIN partitions but NOT window
    partitions — a ProductID with 30% of all events becomes one task
    sorting 30% of the data (measured in tests/test_skew_core.py).
    The reference cannot hit this (serial single node); a 100 TB CDC
    stream with a degenerate key (null-ish id, catch-all SKU) will.

    How: keys above ``hot_key_rows`` (detected by one partial-agg
    count; the hot set is joined with no hint so AQE sizes it) have
    their rows range-bucketed by event time using per-key
    ``percentile_approx`` edges. ``bucket(ts) = |{edge < ts}|`` is
    monotone in ts and maps EQUAL timestamps to the SAME bucket, so
    buckets are time-disjoint and tie order (``order_cols``) can never
    straddle a boundary. The chain window then partitions by
    (key, bucket) — the hot key spreads over ``n_ts_buckets`` tasks —
    and the only cross-bucket information needed, each bucket's
    successor timestamp, comes from a per-(key, bucket) MIN summary
    (≤ hot_keys × buckets rows) led over buckets and joined back:
    a bucket's last interval closes at the next non-empty bucket's
    first event time, which is by construction that row's valid_from.
    Cold keys take the plain :func:`scd2_build` path; the union is
    byte-identical to the unsalted build.

    Degenerate limit: a hot key whose events all share ONE timestamp
    cannot be split (equal ts must stay together for tie ordering) —
    that is a data bug upstream, not a partitioning problem."""
    from .skew_windows import (
        _bucket_rows,
        _bucketed_exchange,
        _hot_edges_agg,
    )

    keys = _as_list(key_cols)
    # Hot-key detection + time-range bucketing + the load-bearing
    # explicit (keys, __b) exchange all live in operators/skew_windows
    # (shared with sessionize_skewed / running_window_skewed — this
    # function pioneered the pattern in r5; the measured traps are
    # documented there). Cold keys ride bucket 0, so (key, 0) ≡ (key)
    # and one code path serves both; only THREE lineage passes over
    # `changes` total (sampled agg, the window input, the boundary
    # summary — and with harvested edges the summary pass reads hot
    # keys' rows only, see below).
    harvested = hot_edges is not None
    if not harvested:
        hot_edges = _hot_edges_agg(
            changes, keys, ts_col, hot_key_rows, n_ts_buckets, ()
        )
    merged = _bucketed_exchange(
        _bucket_rows(changes, keys, ts_col, hot_edges, "left"), keys
    )
    w = Window.partitionBy(*keys, "__b").orderBy(
        *[F.col(c).asc() for c in [ts_col, *order_cols]]
    )
    local_next = F.lead(F.col(ts_col)).over(w)
    # NULL-safe last-row detection: lead(ts) is also NULL when the NEXT
    # row's ts is NULL (several NULL-ts rows in one bucket) — only a
    # genuinely last row may take the next bucket's boundary, or the
    # skewed build would close an interval scd2_build leaves open
    has_local_next = F.lead(F.lit(1)).over(w)
    chained = (
        merged.withColumn("valid_from", F.col(ts_col))
        .withColumn("__local_until", local_next)
        .withColumn("__has_next", has_local_next)
    )
    # Boundary summary. HARVESTED mode (the auto gate): hot keys' rows
    # only, from a column-pruned scan inner-joined to the bounded
    # broadcast edge set (operators/skew_windows r7 pattern) — a cold
    # key's join-miss NULL below is exactly the no-next-bucket NULL the
    # all-keys summary produced, so the expressions are mode-shared.
    # LAZY mode keeps the all-keys shape (unbounded edge set; the
    # identical subtree AQE stage-reuses — see sessionize_skewed).
    summ_src = _bucket_rows(
        changes.select(*dict.fromkeys([*keys, ts_col])),
        keys, ts_col, hot_edges, "inner",
    ) if harvested else merged
    summary = summ_src.groupBy(*keys, "__b").agg(
        F.min(ts_col).alias("__first_ts")
    )
    wb = Window.partitionBy(*keys).orderBy("__b")
    nxt_bucket = summary.withColumn(
        "__next_first", F.lead("__first_ts").over(wb)
    ).select(*keys, "__b", "__next_first")
    out = (
        chained.join(nxt_bucket, [*keys, "__b"], "left")
        .withColumn(
            "valid_until",
            F.when(
                F.col("__has_next").isNull(), F.col("__next_first")
            ).otherwise(F.col("__local_until")),
        )
        .withColumn(
            # mirror scd2_build exactly: current iff valid_until is NULL
            # (including the degenerate next-row-has-NULL-ts case)
            "is_current",
            F.when(F.col("valid_until").isNull(), F.lit("Y")).otherwise(
                F.lit("N")
            ),
        )
        .drop("__b", "__local_until", "__next_first", "__has_next")
    )
    if tombstone_col is not None:
        out = out.filter(~F.col(tombstone_col)).drop(tombstone_col)
    return out


def scd2_stamp_new(changes: DataFrame, ts_col: str | None = None) -> DataFrame:
    """Stamp incoming rows as new current versions.

    Mirrors the insert-route Jolt ``default`` spec "Add SCD2 columns"
    (final_template.xml:5286-5315): ``valid_from = now`` (the reference
    writes epoch millis, ``${now():toNumber()}``, final_template.xml:5291),
    ``valid_until = NULL``, ``is_current = 'Y'``. We use the event time
    when given (deterministic), else processing time like the reference.
    Also fixes the reference's ``valid_unitl`` typo (final_template.xml:2547)
    by implementing the documented intent.
    """
    vf = F.col(ts_col) if ts_col else F.current_timestamp()
    return (
        changes.withColumn("valid_from", vf)
        .withColumn("valid_until", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit("Y"))
    )


def _fits_broadcast(
    changes: DataFrame, summary: DataFrame, max_keys: int
) -> bool:
    """Broadcast-gate for a per-key summary of ``changes`` — with ZERO
    jobs when parquet footers prove the changes row count (an upper
    bound on the summary's key count: one row per key) is under
    ``max_keys`` (r8, same machinery as the skew-gate short-circuit);
    otherwise the pre-r8 behavior, one measured count of the small
    map-side-combined summary."""
    from .skew_windows import row_count_upper_bound

    bound = row_count_upper_bound(changes, max_keys + 1)
    if bound is not None and bound <= max_keys:
        return True
    return summary.count() <= max_keys


def scd2_apply(
    history: DataFrame,
    changes: DataFrame,
    key_cols: str | Sequence[str],
    ts_col: str,
    order_cols: Sequence[str] = (),
    broadcast_changes: bool | None = None,
    max_broadcast_keys: int = MAX_BROADCAST_KEYS,
    tombstone_col: str | None = None,
    skew_protection: bool | str = "auto",
) -> DataFrame:
    """Merge a batch of changes into an existing SCD2 history.

    Deterministic replacement for the reference's racing Task 1 (insert
    new current row) + Task 2 (lookup + expire old row) on the update
    route (SURVEY.md §3.3), with the multi-update-per-key bug fixed:

    1. versions within the batch are chained per key (window ``lead``);
    2. the previously-current history row of each touched key is
       expired with the key's FIRST change timestamp in the batch —
       only that row, unlike the reference's UPDATE keyed on ProductID
       alone (final_template.xml:4736, README.md:186);
    3. untouched rows pass through unchanged.

    Broadcasting the per-key first-change summary (one row per touched
    key) keeps the history table — the huge side at scale — from ever
    shuffling. The default ``broadcast_changes=None`` AUTO-SIZES the
    decision from the batch itself: the summary's key count is measured
    (one cheap map-side-combined agg over the micro-batch) and the
    broadcast hint applied only under ``max_broadcast_keys``; a batch
    touching more keys than fit in a driver broadcast falls back to a
    shuffle join, where AQE re-plans at runtime. Pass True/False to
    override the heuristic.

    ``tombstone_col`` marks delete events (see :func:`scd2_build`): a
    tombstone expires the key's previously-current row (it contributes
    the key's first-change timestamp like any change) and terminates
    the within-batch chain without emitting a row of its own.
    """
    keys = _as_list(key_cols)

    first_change = changes.groupBy(*keys).agg(F.min(ts_col).alias("__first_change_ts"))
    if broadcast_changes is None:
        # measured, not guessed (and footer-proved when provable —
        # zero jobs): the fallback count re-runs only the small summary
        # aggregation (partial-agg'd map-side), never the history scan
        broadcast_changes = _fits_broadcast(
            changes, first_change, max_broadcast_keys
        )
    if broadcast_changes:
        first_change = F.broadcast(first_change)

    is_hit = F.col("__first_change_ts").isNotNull() & (F.col("is_current") == "Y")
    updated_history = (
        history.join(first_change, on=keys, how="left")
        .withColumn(
            "valid_until",
            F.when(is_hit, F.col("__first_change_ts")).otherwise(F.col("valid_until")),
        )
        .withColumn(
            "is_current", F.when(is_hit, F.lit("N")).otherwise(F.col("is_current"))
        )
        .drop("__first_change_ts")
    )

    new_versions = scd2_build(
        changes, keys, ts_col, order_cols, tombstone_col=tombstone_col,
        skew_protection=skew_protection,
    ).select(*updated_history.columns)
    return updated_history.unionByName(new_versions)


def scd2_split_late(
    history: DataFrame,
    changes: DataFrame,
    key_cols: str | Sequence[str],
    ts_col: str,
    max_broadcast_keys: int = MAX_BROADCAST_KEYS,
) -> tuple[DataFrame, DataFrame]:
    """Partition a change batch into (on_time, late) relative to an
    existing SCD2 history — the QUARANTINE half of the cross-batch
    late-event policy.

    A change is LATE iff its key already has history and the change's
    ``ts_col`` is <= that key's latest ``valid_from``: appending it via
    :func:`scd2_apply` would produce an inverted or zero-length
    interval. Everything else (new keys, strictly newer timestamps) is
    safely appendable.

    The reference has no such notion — it trusts binlog arrival order
    outright (SURVEY.md §1.5; the expire UPDATE at
    final_template.xml:4646-4797 stamps ``now()`` unconditionally) — so
    this is beyond-parity protection for binlog replays and source
    backfills. Compose: ``on_time`` -> :func:`scd2_apply`; ``late`` ->
    a quarantine sink (sources/sinks.py side-channel) or
    :func:`scd2_apply_late` to splice them in.

    Scale: the per-key latest-``valid_from`` summary is computed from
    history ONLY for the batch's touched keys (broadcast semi-join
    first, aggregate after), so the shuffle is bounded by the touched
    subset, never the full history; the summary itself (one row per
    touched key) broadcasts back against the batch. The aggregate is
    for full history (many versions per key, closed-only deleted keys);
    a current snapshot's one row per key already holds the latest
    ``valid_from``, so the stream lookup-joins it (``_merge_changes``).
    """
    keys = _as_list(key_cols)
    touched = changes.select(*keys).distinct()
    # One gate decides BOTH broadcasts: `latest` is one row per
    # touched key (same cardinality), so a >max_broadcast_keys batch must
    # shuffle-join on both sides or the second broadcast OOMs the driver.
    small_batch = _fits_broadcast(changes, touched, max_broadcast_keys)
    if small_batch:
        touched = F.broadcast(touched)
    latest = (
        history.join(touched, on=keys, how="left_semi")
        .groupBy(*keys)
        .agg(F.max("valid_from").alias("__latest_from"))
    )
    if small_batch:
        latest = F.broadcast(latest)
    probed = changes.join(latest, on=keys, how="left")
    # NULL ts must not vanish (NULL <= x is NULL, failing BOTH filters):
    # coalesce to on-time, matching scd2_apply's arrival-order trust.
    late = F.coalesce(
        F.col("__latest_from").isNotNull()
        & (F.col(ts_col) <= F.col("__latest_from")),
        F.lit(False),
    )
    on_time = probed.filter(~late).drop("__latest_from")
    return on_time, probed.filter(late).drop("__latest_from")


def scd2_apply_late(
    history: DataFrame,
    changes: DataFrame,
    key_cols: str | Sequence[str],
    ts_col: str,
    order_cols: Sequence[str] = (),
    tombstone_col: str | None = None,
    dedupe: bool = True,
    max_broadcast_keys: int = MAX_BROADCAST_KEYS,
    skewed_rebuild: bool = False,
    hot_key_rows: int = 5_000_000,
    n_ts_buckets: int = 32,
) -> DataFrame:
    """Merge a batch that may contain LATE events (event time older
    than the key's current ``valid_from``) by SPLICING: the touched
    keys' version chains are rebuilt from scratch with the late rows in
    their correct temporal position; untouched keys pass through
    without being read twice or shuffled.

    This is the policy :func:`scd2_apply` (reference-compat,
    arrival-order trust per SURVEY.md §1.5 / final_template.xml:
    4295-4301) deliberately does not have. Properties (tested in
    tests/test_scd2_properties.py):

    - ORDER-FREE: applying any partition of a change set as successive
      batches, in ANY order, yields the same history as one-shot
      :func:`scd2_build` of the whole set.
    - IDEMPOTENT under replay when ``dedupe`` (the default): an event
      is identified by ``(key, ts, *order_cols)``; re-delivering a
      batch leaves the history unchanged.
    - The SCD2 invariants (:func:`scd2_invariants`) hold after every
      merge: half-open, chained, non-overlapping, one current per key.

    Limitation: on histories with tombstone GAPS (a key deleted then
    re-inserted via ``scd2_build(tombstone_col=...)``), rebuilding an
    affected key re-chains its surviving versions and closes the gap —
    the delete marker itself is not stored. Route such keys through
    :func:`scd2_split_late` + quarantine instead.

    Scale: one broadcast semi/anti split of the history on the touched
    keys (history itself never shuffles; only the affected subset —
    bounded by batch keys x versions-per-key — enters the rebuild
    window), then a union. ``skewed_rebuild=True`` routes the rebuild
    through :func:`scd2_build_skewed` (exact-equal) for backfills whose
    touched set includes a hot key. The reference's two-sink race cannot express
    this at all; a backfill there silently corrupts history
    (README.md:186-195).
    """
    keys = _as_list(key_cols)
    touched = changes.select(*keys).distinct()
    if _fits_broadcast(changes, touched, max_broadcast_keys):
        touched = F.broadcast(touched)
    affected = history.join(touched, on=keys, how="left_semi")
    untouched = history.join(touched, on=keys, how="left_anti")

    # Rebuild input = affected versions (SCD2 stamps stripped; their
    # event time is valid_from by construction) + the incoming rows.
    # ts_col must be derived BEFORE dropping SCD2_COLS — valid_from is
    # one of them, so deriving after the drop raises AnalysisException.
    if ts_col in SCD2_COLS or ts_col not in affected.columns:
        affected = affected.withColumn("__ts_tmp", F.col("valid_from"))
        stripped = affected.drop(*SCD2_COLS).withColumnRenamed(
            "__ts_tmp", ts_col
        )
    else:
        stripped = affected.drop(*SCD2_COLS)
    stripped = widen_like(stripped, changes, exclude=SCD2_COLS)
    incoming = widen_like(changes, stripped, exclude=SCD2_COLS)
    merged_in = stripped.unionByName(incoming.select(*stripped.columns))
    if tombstone_col is not None:
        # history rows adopted a NULL tombstone column via widen_like;
        # ~NULL is NULL, which scd2_build's filter would silently drop
        merged_in = merged_in.withColumn(
            tombstone_col, F.coalesce(F.col(tombstone_col), F.lit(False))
        )
    if dedupe:
        merged_in = merged_in.dropDuplicates([*keys, ts_col, *order_cols])
    if skewed_rebuild:
        # large backfills are exactly where a degenerate hot key shows
        # up; the time-range-salted build is exact-equal (oracled)
        rebuilt = scd2_build_skewed(
            merged_in, keys, ts_col, order_cols,
            tombstone_col=tombstone_col,
            hot_key_rows=hot_key_rows, n_ts_buckets=n_ts_buckets,
        )
    else:
        rebuilt = scd2_build(
            merged_in, keys, ts_col, order_cols, tombstone_col=tombstone_col
        )
    untouched = widen_like(untouched, rebuilt)
    return untouched.unionByName(rebuilt.select(*untouched.columns))


def scd2_current(history: DataFrame) -> DataFrame:
    """The reference's lookup dimension: ``(SELECT * FROM …history WHERE
    Is_current='Y') AS current`` (final_template.xml:1439). Plain filter —
    Catalyst pushes it to the scan / prunes the ``is_current`` partition.
    """
    return history.filter(F.col("is_current") == "Y")


def scd2_as_of(history: DataFrame, ts, ts_is_col: bool = False) -> DataFrame:
    """Point-in-time dimension lookup — the canonical SCD2 read the
    reference can only approximate by restoring a backup: each key's
    version whose half-open validity interval contains ``ts``
    (``valid_from <= ts < valid_until``, current rows open-ended).

    ``ts`` is a Python datetime / ISO string literal (constant-folded
    into the scan: both interval bounds become pushable parquet
    predicates — zero shuffles, zero joins), or a Column when
    ``ts_is_col`` (e.g. correlating each probe row's own timestamp
    before an as-of join). A key deleted before ``ts`` (tombstoned
    chain) simply has no containing interval and is absent — consistent
    with :func:`scd2_build`'s soft-delete semantics."""
    point = ts if ts_is_col else F.lit(ts).cast("timestamp")
    return history.filter(
        (F.col("valid_from") <= point)
        & (F.col("valid_until").isNull() | (F.col("valid_until") > point))
    )


def scd2_invariants(
    history: DataFrame,
    key_cols: str | Sequence[str],
    allow_gaps: bool = False,
) -> DataFrame:
    """SCD2 invariant violations as rows (empty result == healthy).

    Checks (FIXTURES.md F2, README.md:129):
    - at most one current row per key;
    - current rows have ``valid_until IS NULL``;
    - consecutive versions chain: ``valid_until[i] = valid_from[i+1]``.

    ``allow_gaps=True`` is the health check for TOMBSTONED histories
    (``scd2_build(tombstone_col=...)`` / ``handle_deletes=True``): a
    delete-then-reinsert legitimately leaves a coverage gap
    (``valid_until[i] < valid_from[i+1]``), so the chain check relaxes
    to overlap-or-open only — ``valid_until[i] > valid_from[i+1]`` and
    NULL-``valid_until``-with-successor stay violations.
    """
    keys = _as_list(key_cols)
    cur = (
        history.filter(F.col("is_current") == "Y")
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_current"))
        .filter(F.col("n_current") > 1)
        .select(*keys, F.lit("multiple_current_rows").alias("violation"))
    )
    open_expired = (
        history.filter((F.col("is_current") == "Y") & F.col("valid_until").isNotNull())
        .select(*keys, F.lit("current_row_has_valid_until").alias("violation"))
    )
    w = Window.partitionBy(*keys).orderBy("valid_from")
    if allow_gaps:
        # tombstone gaps are legal; overlap or open-with-successor is not
        bad_link = F.col("valid_until").isNull() | (
            F.col("valid_until") > F.col("__next_from")
        )
    else:
        # null-safe: a non-current row with NULL valid_until that has
        # a successor is broken too — plain != would return NULL and
        # silently drop it from the check
        bad_link = ~F.col("valid_until").eqNullSafe(F.col("__next_from"))
    chain = (
        history.withColumn("__next_from", F.lead("valid_from").over(w))
        .filter(F.col("__next_from").isNotNull() & bad_link)
        .select(*keys, F.lit("broken_interval_chain").alias("violation"))
    )
    return cur.unionByName(open_expired).unionByName(chain)


def widen_like(
    df: DataFrame, other: DataFrame, exclude: Sequence[str] = ()
) -> DataFrame:
    """``df`` extended with NULL-typed copies of every column present
    only in ``other`` — the union-compatibility half of schema
    evolution. Column order: ``df``'s own columns, then the adopted
    ones in ``other``'s order (deterministic output schema).
    ``exclude`` names are never adopted (case-insensitive)."""
    have = {c.lower() for c in df.columns} | {c.lower() for c in exclude}
    adopted = [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in other.schema.fields
        if f.name.lower() not in have
    ]
    return df.select("*", *adopted) if adopted else df


def scd2_apply_evolved(
    history: DataFrame,
    changes: DataFrame,
    key_cols: str | Sequence[str],
    ts_col: str,
    order_cols: Sequence[str] = (),
    **kwargs,
) -> DataFrame:
    """:func:`scd2_apply` with SCHEMA EVOLUTION: a batch carrying
    attribute columns the history has never seen (or missing columns
    the history has) merges anyway — the history widens, closed rows
    backfill NULL for adopted columns, and new versions carry them.

    This is reference parity the strongly-typed engine would otherwise
    lose: NiFi infers schema per record (JsonTreeReader,
    SURVEY.md §1.4), so a new column in the MySQL table simply flows
    through the reference DAG. Here both sides are widened to the
    union schema (map-only ``select``, zero shuffles) before the
    standard merge; key/timestamp/SCD2-protocol columns must exist on
    both sides and are validated rather than NULL-filled.
    """
    keys = _as_list(key_cols)
    required = set(k.lower() for k in keys) | {ts_col.lower()}
    for name, df in (("history", history), ("changes", changes)):
        missing = required - {c.lower() for c in df.columns}
        if missing:
            raise ValueError(
                f"scd2_apply_evolved: {name} lacks protocol columns "
                f"{sorted(missing)} — schema evolution applies to "
                "attribute columns only"
            )
    # The changes side never adopts SCD2 protocol columns — scd2_apply
    # stamps them itself via scd2_build; adopting NULL copies first
    # would shadow the stamping.
    return scd2_apply(
        widen_like(history, changes, exclude=(ts_col,)),
        widen_like(changes, history, exclude=SCD2_COLS),
        key_cols,
        ts_col,
        order_cols,
        **kwargs,
    )

"""Incremental SCD2 history store: manifest-committed, append-only,
bucket-scoped current snapshots.

The round-1 streaming sink rewrote the ENTIRE history store twice per
micro-batch (merge → staging → final) — O(|history|) I/O per batch, a
scale-killer at 100 TB. This store exploits the SCD2 write pattern:

- closed rows (``is_current='N'``) are IMMUTABLE — once an interval has
  a ``valid_until`` it never changes again → each batch's closed rows
  land in their own partition, which is never rewritten;
- the current-rows set (one row per live key) is hash-BUCKETED by key;
  a micro-batch rewrites ONLY the buckets containing its touched keys,
  and every untouched bucket is carried forward in the manifest BY
  REFERENCE — zero I/O. Per-batch write cost is
  O(|current rows in touched buckets| + |closed delta|), independent of
  both accumulated history size and total live-key count.

Layout (a minimal Delta/Iceberg-style commit protocol on plain parquet —
on a cluster with a transactional table format ``commit`` maps 1:1 to a
MERGE/commit; the protocol here is what those formats do internally):

    <path>/_MANIFEST.json
        {"version": b, "seq": s, "n_buckets": n, "schema": {...},
         "closed_batches": [...], "closed_segments": [...],
         "retain_snapshots": k,
         "current_buckets": {"<bucket>": <version that last wrote it>}}
    <path>/v=<b>/__bucket=<i>/       current rows of bucket i as of b
                                     (v=<b>r<n>s<seq> for rebucket rewrites)
    <path>/v=<b>/__bucket=closed/    rows CLOSED by batch b (immutable;
                                     absent when b closed no rows)
    <path>/seg=<v>/                  compacted closed segment (immutable)
    <path>/_snapshots/<seq>.json     archived manifests (time travel,
                                     retained for the last k flips)

Each ``__bucket`` partition has its own manifest reference and so its
own lifecycle: a closed partition lives until compaction folds it, a
bucket until a later batch rewrites it, and a ``v=`` dir until it holds
neither. Readers scan with the manifest's ``schema``, so no read infers
one from file footers, and a store whose commits wrote no rows still
reads as an empty history frame.

Crash safety / effectively-exactly-once: a commit is ONE partitioned
write of the merged batch into its batch-id-addressed ``v=<b>``
directory (idempotent overwrite on replay of the same micro-batch); the
manifest is flipped LAST via atomic ``os.replace``; the reference sweep
runs only after the flip. A crash anywhere leaves the previous
manifest — and therefore the previous committed state — fully readable;
Structured Streaming replays the batch, the write lands in the same
directory, and the flip happens once. Readers never observe a
half-written store.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_MANIFEST.json"
BUCKET = "__bucket"
#: the ``__bucket`` partition value of a batch's closed rows
CLOSED = "closed"


class Scd2Store:
    """Manifest-gated SCD2 history store (see module docstring).

    ``key_col``/``n_buckets`` are required on the write path; read-only
    users may omit ``key_col``. ``n_buckets`` is set at store creation
    (the manifest's value wins thereafter; :meth:`rebucket` rescales it
    later) — at 100 TB size it so a bucket's current rows fit one task
    comfortably (thousands+).
    """

    def __init__(
        self,
        path: str,
        key_col: str | None = None,
        n_buckets: int = 16,
        retain_snapshots: int = 1,
    ) -> None:
        self.path = path.rstrip("/")
        self.key_col = key_col
        self.n_buckets = n_buckets
        # how many committed snapshots stay readable (time travel):
        # 1 = latest only (no extra storage); K keeps the last K flips'
        # manifests AND every data directory any of them references
        self.retain_snapshots = max(1, retain_snapshots)

    # -- layout -------------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST)

    def _snapshots_dir(self) -> str:
        return os.path.join(self.path, "_snapshots")

    def _version_dir(self, version: int | str) -> str:
        # version is the committing batch id, or "<id>r<n>s<seq>" for a
        # rebucket rewrite (a distinct address space: batch commits
        # never write the r-suffixed form, so the two cannot collide)
        return os.path.join(self.path, f"v={version}")

    def _bucket_dir(self, version: int | str, bucket: int | str) -> str:
        return os.path.join(self._version_dir(version), f"{BUCKET}={bucket}")

    @staticmethod
    def _partitions(version_dir: str) -> set[str]:
        """The ``__bucket`` values written under one ``v=`` dir (a write
        always creates the dir, if only for its ``_SUCCESS`` marker)."""
        return {
            d.split("=", 1)[1]
            for d in os.listdir(version_dir)
            if d.startswith(f"{BUCKET}=")
        }

    def _segment_dir(self, version: int) -> str:
        return os.path.join(self.path, f"seg={version}")

    def bucket_expr(self) -> Column:
        if self.key_col is None:
            raise ValueError("Scd2Store needs key_col for bucket computation")
        return F.pmod(F.xxhash64(F.col(self.key_col)), F.lit(self.n_buckets))

    # -- read side ----------------------------------------------------------

    def exists(self) -> bool:
        """True iff a committed manifest exists. This is the EXPLICIT
        first-batch test — a store directory that exists but has no
        manifest (or an unreadable one) is NOT silently treated as
        empty; read errors propagate and fail the batch rather than
        rebuilding history from one micro-batch."""
        return os.path.exists(self._manifest_path())

    def manifest(self) -> dict:
        with open(self._manifest_path()) as fh:
            m = json.load(fh)
        required = {
            "version", "n_buckets", "schema", "closed_batches", "current_buckets"
        }
        if not required <= set(m):
            raise ValueError(
                f"corrupt SCD2 store manifest at {self._manifest_path()}: {m!r}"
            )
        self.n_buckets = m["n_buckets"]
        return m

    def _current_paths(self, m: dict, buckets: list[int] | None = None) -> list[str]:
        refs = m["current_buckets"]
        wanted = sorted(refs, key=int) if buckets is None else map(str, buckets)
        return [self._bucket_dir(refs[b], b) for b in wanted if b in refs]

    def _closed_paths(self, m: dict) -> list[str]:
        """Every closed-row directory ``m`` references: compacted
        segments, then per-batch closed partitions."""
        paths = [self._segment_dir(s) for s in m.get("closed_segments", [])]
        return paths + [self._bucket_dir(b, CLOSED) for b in m["closed_batches"]]

    @staticmethod
    def _read(spark: SparkSession, m: dict, paths: list[str]) -> DataFrame:
        """One multi-path parquet scan with ``m``'s recorded schema (no
        partition discovery, no footer inference; no paths reads as an
        empty history frame)."""
        return spark.read.schema(StructType.fromJson(m["schema"])).parquet(*paths)

    def read_current(
        self, spark: SparkSession, buckets: list[int] | None = None
    ) -> DataFrame:
        """Current rows — the reference's ``Is_current='Y'`` lookup
        dimension (final_template.xml:1439). ``buckets`` restricts the
        scan to the named key-hash buckets (the merge's pruned read:
        only directories holding touched keys are listed; buckets with
        no committed rows yet are simply absent from the listing). A
        store whose live keys were ALL soft-deleted is a legitimate
        committed state: it reads as an empty frame."""
        m = self.manifest()
        return self._read(spark, m, self._current_paths(m, buckets))

    def read_all(self, spark: SparkSession) -> DataFrame:
        """Full history: compacted closed segments + committed closed
        batches + all current buckets."""
        return self._read_all_from(spark, self.manifest())

    def _read_all_from(self, spark: SparkSession, m: dict) -> DataFrame:
        return self._read(spark, m, self._closed_paths(m) + self._current_paths(m))

    # -- snapshots / time travel --------------------------------------------

    def _snapshot_window(self, m: dict) -> tuple[dict[int, str], list[str]]:
        """``_snapshots/`` split by ``m``'s retention window: ``seq →
        path`` of the archived manifests in it older than ``m`` (a higher
        seq is a phantom of a crash before the flip), and the paths of
        those that fell out of it."""
        seq = m.get("seq", 0)
        keep_min = seq - m.get("retain_snapshots", 1) + 1
        kept, expired = {}, []
        snaps = self._snapshots_dir()
        if not os.path.isdir(snaps):
            return kept, expired
        for f in os.listdir(snaps):
            if f.endswith(".json") and f[:-5].isdigit():
                s, p = int(f[:-5]), os.path.join(snaps, f)
                if s < keep_min:
                    expired.append(p)
                elif s < seq:
                    kept[s] = p
        return kept, expired

    def snapshots(self) -> list[int]:
        """Readable snapshot sequence numbers, oldest → latest. With
        ``retain_snapshots=1`` (default) only the latest flip is
        readable; K > 1 keeps the last K flips' manifests plus every
        data directory any of them references."""
        latest = self.manifest()
        return sorted({latest.get("seq", 0), *self._snapshot_window(latest)[0]})

    def read_snapshot(self, spark: SparkSession, seq: int) -> DataFrame:
        """Time travel: the full history exactly as of flip ``seq``
        (a commit, compaction, or rebucket — maintenance flips preserve
        row content, so adjacent seqs may be row-identical). Raises
        KeyError for a seq outside the retained window."""
        latest = self.manifest()
        if seq == latest.get("seq", 0):
            return self._read_all_from(spark, latest)
        kept = self._snapshot_window(latest)[0]
        if seq not in kept:
            raise KeyError(
                f"snapshot {seq} not retained (have {self.snapshots()})"
            )
        with open(kept[seq]) as fh:
            return self._read_all_from(spark, json.load(fh))

    def _retained_manifests(self, latest: dict) -> list[dict]:
        """The manifests whose references must stay on disk: the latest
        plus every archived snapshot inside the retention window."""
        out = [latest]
        for p in self._snapshot_window(latest)[0].values():
            with open(p) as fh:
                out.append(json.load(fh))
        return out

    # -- write side ---------------------------------------------------------

    def _flip(self, manifest: dict, prev: dict | None) -> dict:
        """Atomically publish a new manifest. Every flip gets a
        monotonically increasing ``seq``; with retention > 1 the
        manifest is also archived under ``_snapshots/<seq>.json``
        BEFORE the pointer flip (a crash between the two leaves a
        phantom snapshot that references existing data — harmless), and
        snapshots that fall out of the window are pruned after.
        Retention ratchets: the effective value is the max of this
        writer's and the store's recorded one, so a maintenance job
        with default settings cannot silently destroy time travel."""
        retain = max(
            self.retain_snapshots,
            (prev or {}).get("retain_snapshots", 1),
        )
        manifest["seq"] = (prev or {}).get("seq", 0) + 1
        manifest["retain_snapshots"] = retain
        snaps = self._snapshots_dir()
        if retain > 1:
            os.makedirs(snaps, exist_ok=True)
            with open(os.path.join(snaps, f"{manifest['seq']}.json"), "w") as fh:
                json.dump(manifest, fh)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, self._manifest_path())
        for p in self._snapshot_window(manifest)[1]:
            os.remove(p)
        return manifest

    def commit(
        self,
        merged: DataFrame,
        batch_id: int,
        touched_buckets: Iterable[int] = (),
    ) -> None:
        """Commit one merged micro-batch.

        ``merged`` holds the post-merge rows of the TOUCHED buckets only
        (the merge read exactly those buckets): its current rows replace
        those buckets, its closed rows append as the batch's closed
        partition. A batch that closes no rows writes no closed
        partition, and ``closed_batches`` lists it only when it did.
        ``touched_buckets`` is the merge's touched set (empty for a
        whole-table commit, as in splice): a touched bucket that ends
        with NO current rows (every key in it soft-deleted) writes no
        directory, and its manifest reference must be DROPPED —
        deriving touched-ness from written directories alone would
        silently resurrect the stale pre-merge rows.

        Write order (each step idempotent under replay of ``batch_id``):

        1. ONE write of ``merged``, partitioned by ``__bucket`` (the key
           bucket of a current row, ``closed`` for a closed one), into
           v=<id>/ (overwrite; the snapshots the merge was DERIVED from
           live in other directories, so there is no same-path
           read/write hazard and no staging double-write)
        2. manifest flip: touched buckets point at <id> (or lose their
           reference if emptied), untouched buckets KEEP their old
           references (carry-forward, zero I/O), and the schema of
           ``merged`` is recorded for the readers
        3. reference sweep (after the flip, so a crash mid-sweep can
           only leave orphans, never dangling references)
        """
        m = self.manifest() if self.exists() else None
        version_dir = self._version_dir(batch_id)

        # repartition by (key bucket, is_current) before writing: the
        # merge plan ends at shuffle.partitions (32+) tasks, so the
        # unshuffled write emits ~tasks×buckets near-empty parquet files
        # per batch plus their commit-protocol renames — measured as the
        # dominant per-micro-batch cost. One small batch-proportional
        # shuffle buys one file per current bucket, and spreads closed
        # rows over up to n_buckets files (the small-files story this
        # store exists to control; compact_closed folds them later)
        key_bucket = self.bucket_expr()
        is_current = F.col("is_current") == "Y"
        merged.withColumn(
            BUCKET, F.when(is_current, key_bucket.cast("string")).otherwise(CLOSED)
        ).repartition(key_bucket, F.col("is_current")).write.mode(
            "overwrite"
        ).partitionBy(BUCKET).parquet(version_dir)

        written = self._partitions(version_dir)
        buckets = {int(b) for b in written - {CLOSED}}
        refs = dict(m["current_buckets"]) if m else {}
        for b in set(touched_buckets) - buckets:
            refs.pop(str(b), None)  # bucket emptied by soft deletes
        refs.update({str(b): batch_id for b in buckets})
        closed = (m or {}).get("closed_batches", [])
        if CLOSED in written:
            closed = sorted({*closed, batch_id})
        manifest = self._flip(
            {
                "version": batch_id,
                "n_buckets": self.n_buckets,
                "schema": merged.schema.jsonValue(),
                "closed_batches": closed,
                "closed_segments": (m or {}).get("closed_segments", []),
                "current_buckets": refs,
            },
            prev=m,
        )
        self._sweep(manifest)

    def compact_closed(
        self, spark: SparkSession, min_batches: int = 8
    ) -> bool:
        """Fold the accumulated per-micro-batch closed partitions into
        ONE consolidated segment — the small-files maintenance every
        log-structured store needs (a 200 ms-trigger stream writes
        ~432k closed dirs/day; readers would die on file listing long
        before data volume matters). Size-tiered: each compaction folds
        only the closed partitions written SINCE the last one into a new
        segment, so compaction I/O is O(delta since last compaction),
        never O(total history) — prior segments are immutable and are
        not rewritten (Iceberg's rewrite-small-files semantics on plain
        parquet).

        Returns False (no-op) below ``min_batches`` pending partitions.
        Crash-safe like ``commit``: the segment is addressed by the
        manifest version (idempotent overwrite on retry), the manifest
        flips atomically afterwards, and only then are the folded
        closed partitions deleted — a crash anywhere leaves a readable
        store, at worst with orphan directories no reference keeps
        alive."""
        m = self.manifest()
        batches = m["closed_batches"]
        seg_version = m["version"]
        self._sweep(m)
        if len(batches) < min_batches:
            return False
        seg_dir = self._segment_dir(seg_version)
        self._read(spark, m, [self._bucket_dir(b, CLOSED) for b in batches]).coalesce(
            max(1, len(batches) // 8)
        ).write.mode("overwrite").parquet(seg_dir)

        manifest = self._flip(
            {
                **m,
                "closed_batches": [],
                "closed_segments": sorted(
                    set(m.get("closed_segments", [])) | {seg_version}
                ),
            },
            prev=m,
        )
        # the folded partitions are now orphans, unless a retained
        # snapshot still reads them
        self._sweep(manifest)
        return True

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> None:
        """Rescale the current-snapshot bucket count — the maintenance
        op that keeps per-bucket size bounded as the live-key population
        grows (at 100 TB you start with thousands of buckets and split
        when the largest no longer fits one task comfortably).

        One full rewrite of the CURRENT rows only (one row per live key
        — closed history, the bulk of the store, is untouched). The
        rewrite lands in a distinct address space
        (``v=<version>r<new_n>s<seq>/``) so it cannot collide
        with any batch commit's directories — and, because the tag
        includes the NEXT flip seq, never with a PREVIOUS rebucket's
        either: a retry after a successful flip gets a fresh seq and so
        reads the committed dirs while writing new ones (read-path ==
        write-path would make Spark's overwrite delete the only copy of
        the snapshot before reading it). Crash before the flip leaves
        the old manifest fully readable (the half-written rewrite is
        unreferenced; same-seq retry overwrites it idempotently).
        Requires ``key_col``."""
        m = self.manifest()
        tag = f"{m['version']}r{new_n_buckets}s{m.get('seq', 0) + 1}"
        self.n_buckets = new_n_buckets
        # a store with no current rows reads as an empty frame and writes
        # no partition; the sweep then removes the empty v= dir
        cur = self._read(spark, m, self._current_paths(m))
        version_dir = self._version_dir(tag)
        bucketed = cur.withColumn(BUCKET, self.bucket_expr())
        bucketed.write.mode("overwrite").partitionBy(BUCKET).parquet(version_dir)
        new_refs = {b: tag for b in self._partitions(version_dir)}
        manifest = self._flip(
            {
                **m,
                "n_buckets": new_n_buckets,
                "current_buckets": new_refs,
            },
            prev=m,
        )
        self._sweep(manifest)

    def _sweep(self, m: dict) -> None:
        """Delete every data directory no RETAINED manifest references:
        bucket and closed partitions under ``v=`` dirs, compacted
        segments, and a ``v=`` dir once it holds neither — the
        partitions a commit superseded or a compaction folded, and the
        leftovers of one that crashed between its flip and this sweep.
        Untouched buckets may legitimately point at arbitrarily old
        versions forever, so the sweep is reference-based, not
        age-based; with snapshot retention > 1, directories stay until
        every snapshot referencing them expires. Dirs whose batch id is
        ABOVE the manifest version are never touched: an in-flight
        commit's pre-flip ``v=`` dir always carries one, even if
        maintenance runs beside a live stream."""
        live = {
            p
            for rm in self._retained_manifests(m)
            for p in self._closed_paths(rm) + self._current_paths(rm)
        }
        for d in os.listdir(self.path):
            kind, _, raw = d.partition("=")
            batch = raw.partition("r")[0]  # rebucket tags: <id>r<n>s<seq>
            if kind not in ("v", "seg") or not batch.isdigit():
                continue
            if int(batch) > m["version"]:
                continue  # a commit still in flight
            top = os.path.join(self.path, d)
            if kind == "seg":
                parts = [top]
            else:
                parts = [self._bucket_dir(raw, p) for p in self._partitions(top)]
            for p in parts:
                if p not in live:
                    shutil.rmtree(p, ignore_errors=True)
            if kind == "v" and not self._partitions(top):
                shutil.rmtree(top, ignore_errors=True)

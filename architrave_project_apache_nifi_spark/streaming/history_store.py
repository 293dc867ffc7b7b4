"""Incremental SCD2 history store: manifest-committed, append-only,
bucket-scoped current snapshots.

The round-1 streaming sink rewrote the ENTIRE history store twice per
micro-batch (merge → staging → final) — O(|history|) I/O per batch, a
scale-killer at 100 TB. This store exploits the SCD2 write pattern:

- closed rows (``is_current='N'``) are IMMUTABLE — once an interval has
  a ``valid_until`` it never changes again → appended as per-batch
  directories that are never touched again;
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
        {"version": b, "seq": s, "n_buckets": n, "closed_batches": [...],
         "closed_segments": [...], "retain_snapshots": k,
         "current_buckets": {"<bucket>": <version that last wrote it>}}
    <path>/current/v=<b>/__bucket=<i>/   current rows of bucket i as of b
                                         (v=<b>r<n> for rebucket rewrites)
    <path>/closed/batch=<b>/             rows CLOSED by batch b (immutable)
    <path>/closed/seg=<v>/               compacted closed segment (immutable)
    <path>/_snapshots/<seq>.json         archived manifests (time travel,
                                         retained for the last k flips)

Crash safety / effectively-exactly-once: both data writes go to
batch-id-addressed directories (idempotent overwrite on replay of the
same micro-batch); the manifest is flipped LAST via atomic
``os.replace``; reference-based GC runs only after the flip. A crash
anywhere leaves the previous manifest — and therefore the previous
committed state — fully readable; Structured Streaming replays the
batch, the writes land in the same directories, and the flip happens
once. Readers never observe a half-written store.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_MANIFEST.json"
BUCKET = "__bucket"


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

    def _bucket_dir(self, version: int | str, bucket: int) -> str:
        # version is the committing batch id, or "<id>r<n>" for a
        # rebucket rewrite (a distinct address space: batch commits
        # never write the r-suffixed form, so the two cannot collide)
        return os.path.join(
            self.path, "current", f"v={version}", f"{BUCKET}={bucket}"
        )

    @staticmethod
    def _bucket_dirs(version_dir: str) -> dict[int, str]:
        """``bucket → path`` of the bucket dirs under one ``v=`` dir."""
        return {
            int(d.split("=", 1)[1]): os.path.join(version_dir, d)
            for d in os.listdir(version_dir)
            if d.startswith(f"{BUCKET}=")
        }

    def _closed_dir(self, batch_id: int) -> str:
        return os.path.join(self.path, "closed", f"batch={batch_id}")

    def _segment_dir(self, version: int) -> str:
        return os.path.join(self.path, "closed", f"seg={version}")

    def bucket_expr(self, key_col: str | None = None) -> Column:
        key = key_col or self.key_col
        if key is None:
            raise ValueError("Scd2Store needs key_col for bucket computation")
        return F.pmod(F.xxhash64(F.col(key)), F.lit(self.n_buckets))

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
        if not {"version", "n_buckets", "closed_batches", "current_buckets"} <= set(m):
            raise ValueError(
                f"corrupt SCD2 store manifest at {self._manifest_path()}: {m!r}"
            )
        self.n_buckets = m["n_buckets"]
        return m

    def _current_paths(self, m: dict, buckets: list[int] | None = None) -> list[str]:
        refs = m["current_buckets"]
        if buckets is None:
            wanted = sorted(refs.items(), key=lambda kv: int(kv[0]))
        else:
            wanted = [(str(b), refs[str(b)]) for b in buckets if str(b) in refs]
        return [self._bucket_dir(v, int(b)) for b, v in wanted]

    def _closed_paths(self, m: dict) -> list[str]:
        """Every closed-row directory ``m`` references: compacted
        segments, then per-batch dirs."""
        paths = [self._segment_dir(s) for s in m.get("closed_segments", [])]
        return paths + [self._closed_dir(b) for b in m["closed_batches"]]

    def has_buckets(self, buckets: list[int]) -> bool:
        """True iff ANY of the given key-hash buckets has committed
        current rows (all-new-key batches may touch only virgin
        buckets — the merge then has no current rows to read)."""
        refs = self.manifest()["current_buckets"]
        return any(str(b) in refs for b in buckets)

    def read_current(
        self, spark: SparkSession, buckets: list[int] | None = None
    ) -> DataFrame:
        """Current rows — the reference's ``Is_current='Y'`` lookup
        dimension (final_template.xml:1439). ``buckets`` restricts the
        scan to the named key-hash buckets (the merge's pruned read:
        only directories holding touched keys are listed; buckets with
        no committed rows yet are simply absent from the listing)."""
        m = self.manifest()
        paths = self._current_paths(m, buckets)
        if paths:
            return spark.read.parquet(*paths)
        # a store whose live keys were ALL soft-deleted is a legitimate
        # committed state (zero current rows, history intact): return an
        # empty frame with the history schema, which closed rows share
        closed = self._closed_paths(m)
        if closed:
            return spark.read.parquet(*closed).limit(0)
        raise ValueError(f"SCD2 store at {self.path} has no committed data")

    def read_all(self, spark: SparkSession) -> DataFrame:
        """Full history: compacted closed segments + committed closed
        batches + all current buckets. One multi-path parquet scan (no
        partition discovery needed)."""
        return self._read_all_from(spark, self.manifest())

    def _read_all_from(self, spark: SparkSession, m: dict) -> DataFrame:
        paths = self._closed_paths(m) + self._current_paths(m)
        return spark.read.parquet(*paths)

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
        new_current: DataFrame,
        closed_delta: DataFrame,
        batch_id: int,
        touched_buckets: list[int] | None = None,
    ) -> None:
        """Commit one merged micro-batch.

        ``new_current`` holds the post-merge current rows of the TOUCHED
        buckets only (the merge read exactly those buckets); closed rows
        of the batch land in their own immutable directory, which every
        commit references: Spark writes a schema-only part file for an
        empty frame, so for a batch that closes no rows that directory
        holds zero rows until ``compact_closed`` folds it.
        ``touched_buckets`` is the merge's touched set: a touched bucket
        that ends with NO current rows (every key in it soft-deleted)
        writes no directory, and its manifest reference must be DROPPED
        — deriving touched-ness from written directories alone would
        silently resurrect the stale pre-merge rows. ``None`` (the
        first-batch build path) means "exactly the buckets written".

        Write order (each step idempotent under replay of ``batch_id``):

        1. closed delta → closed/batch=<id> (overwrite)
        2. touched current buckets → current/v=<id>/__bucket=<i>
           (partitioned write; the snapshots they were DERIVED from live
           in other directories, so there is no same-path read/write
           hazard and no staging double-write)
        3. manifest flip: touched buckets point at <id> (or lose their
           reference if emptied), untouched buckets KEEP their old
           references (carry-forward, zero I/O)
        4. reference-based GC (after the flip, so a crash mid-GC can
           only leave orphans, never dangling references)
        """
        m = self.manifest() if self.exists() else None
        prev_closed = m["closed_batches"] if m else []
        prev_refs: dict[str, int] = dict(m["current_buckets"]) if m else {}

        closed_dir = self._closed_dir(batch_id)
        version_dir = os.path.join(self.path, "current", f"v={batch_id}")

        # repartition to n_buckets before writing: the merge plan ends
        # at shuffle.partitions (32+) tasks, so the unshuffled write
        # emits ~tasks×buckets near-empty parquet files per batch plus
        # their commit-protocol renames — measured as the dominant
        # per-micro-batch cost. One small batch-proportional shuffle
        # buys one file per bucket (the small-files story this store
        # exists to control; compact_closed then has ~32× fewer files
        # to fold)
        def _write_closed() -> None:
            closed_delta.repartition(
                self.n_buckets, F.col(self.key_col)
            ).write.mode("overwrite").parquet(closed_dir)

        def _write_current() -> None:
            bucketed = new_current.withColumn(BUCKET, self.bucket_expr())
            bucketed.repartition(F.col(BUCKET)).write.mode(
                "overwrite"
            ).partitionBy(BUCKET).parquet(version_dir)

        # The two writes run CONCURRENTLY (r8, VERDICT r7 #7): each is
        # fixed-overhead dominated on a micro-batch (commit-protocol
        # renames + writer init, not data volume — the 32 threads are
        # mostly idle during either), and the crash protocol never
        # ordered them: both target version-addressed directories that
        # are orphans until the manifest flip below, which still
        # happens strictly after BOTH complete. They share the
        # caller-persisted `merged` lineage; cache block locks dedupe
        # the materialization. Interleaved A/B in BASELINE.md r8:
        # 1.21× rows/s on the bench replay.
        # InheritableThread, not ThreadPoolExecutor (code-review r8):
        # under pinned-thread mode (PySpark default) plain child
        # threads do NOT inherit SparkContext local properties, so
        # job-group cancellation (stopping the streaming query) and
        # scheduler-pool assignment would miss the two write jobs.
        errs: list[BaseException] = []

        def _run(fn) -> None:
            try:
                fn()
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                errs.append(exc)

        threads = [
            InheritableThread(target=_run, args=(fn,))
            for fn in (_write_closed, _write_current)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errs:
            raise errs[0]
        written = set(self._bucket_dirs(version_dir))
        touched = set(touched_buckets) | written if touched_buckets else written

        refs = dict(prev_refs)
        for b in touched:
            if b in written:
                refs[str(b)] = batch_id
            else:
                refs.pop(str(b), None)  # bucket emptied by soft deletes
        manifest = self._flip(
            {
                "version": batch_id,
                "n_buckets": self.n_buckets,
                "closed_batches": sorted({*prev_closed, batch_id}),
                "closed_segments": (m or {}).get("closed_segments", []),
                "current_buckets": refs,
            },
            prev=m,
        )

        self._gc_unreferenced(manifest)

    def compact_closed(
        self, spark: SparkSession, min_batches: int = 8
    ) -> bool:
        """Fold the accumulated per-micro-batch closed directories into
        ONE consolidated segment — the small-files maintenance every
        log-structured store needs (a 200 ms-trigger stream writes
        ~432k closed dirs/day; readers would die on file listing long
        before data volume matters). Size-tiered: each compaction folds
        only the per-batch dirs written SINCE the last one into a new
        segment, so compaction I/O is O(delta since last compaction),
        never O(total history) — prior segments are immutable and are
        not rewritten (Iceberg's rewrite-small-files semantics on plain
        parquet).

        Returns False (no-op) below ``min_batches`` pending dirs.
        Crash-safe like ``commit``: the segment is addressed by the
        manifest version (idempotent overwrite on retry), the manifest
        flips atomically afterwards, and only then are the folded
        per-batch dirs deleted — a crash anywhere leaves a readable
        store, at worst with orphan directories no reference keeps
        alive."""
        m = self.manifest()
        batches = m["closed_batches"]
        seg_version = m["version"]
        self._sweep_closed_orphans(m, keep_seg=seg_version)
        if len(batches) < min_batches:
            return False
        seg_dir = self._segment_dir(seg_version)
        spark.read.parquet(*[self._closed_dir(b) for b in batches]).coalesce(
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
        # the folded dirs are now orphans, unless a retained snapshot
        # still reads them
        self._sweep_closed_orphans(manifest, keep_seg=seg_version)
        return True

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> None:
        """Rescale the current-snapshot bucket count — the maintenance
        op that keeps per-bucket size bounded as the live-key population
        grows (at 100 TB you start with thousands of buckets and split
        when the largest no longer fits one task comfortably).

        One full rewrite of the CURRENT rows only (one row per live key
        — closed history, the bulk of the store, is untouched). The
        rewrite lands in a distinct address space
        (``current/v=<version>r<new_n>s<seq>/``) so it cannot collide
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
        refs = m["current_buckets"]
        tag = f"{m['version']}r{new_n_buckets}s{m.get('seq', 0) + 1}"
        self.n_buckets = new_n_buckets
        if refs:
            cur = spark.read.parquet(*self._current_paths(m))
            version_dir = os.path.join(self.path, "current", f"v={tag}")
            bucketed = cur.withColumn(BUCKET, self.bucket_expr())
            bucketed.write.mode("overwrite").partitionBy(BUCKET).parquet(
                version_dir
            )
            new_refs = {str(b): tag for b in self._bucket_dirs(version_dir)}
        else:
            new_refs = {}
        manifest = self._flip(
            {
                **m,
                "n_buckets": new_n_buckets,
                "current_buckets": new_refs,
            },
            prev=m,
        )
        self._gc_unreferenced(manifest)

    def _sweep_closed_orphans(self, m: dict, keep_seg: int) -> None:
        """Remove closed dirs no retained manifest references — the
        dirs a compaction just folded, or leftovers of one that crashed
        between its manifest flip and that delete. Only dirs strictly OLDER than the
        manifest version are swept: an in-flight commit's pre-flip
        ``batch=`` dir always carries a batch id > version, so it is
        never touched even if maintenance runs beside a live stream."""
        root = os.path.join(self.path, "closed")
        try:
            entries = os.listdir(root)
        except FileNotFoundError:
            return
        retained = self._retained_manifests(m)
        live_batches = {b for rm in retained for b in rm["closed_batches"]}
        live_segs = {
            s for rm in retained for s in rm.get("closed_segments", [])
        } | {keep_seg}
        for d in entries:
            kind, _, raw = d.partition("=")
            if not raw or not raw.lstrip("-").isdigit():
                continue
            v = int(raw)
            dead = (
                kind == "batch" and v not in live_batches and v <= m["version"]
            ) or (kind == "seg" and v not in live_segs)
            if dead:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)

    def _gc_unreferenced(self, manifest: dict) -> None:
        """Delete current-bucket directories no RETAINED manifest's
        reference keeps alive. Untouched buckets may legitimately point
        at arbitrarily old versions forever, so GC is reference-based,
        not age-based; with snapshot retention > 1, directories stay
        until every snapshot referencing them expires."""
        live = {
            (str(v), int(b))
            for rm in self._retained_manifests(manifest)
            for b, v in rm["current_buckets"].items()
        }
        cur_root = os.path.join(self.path, "current")
        try:
            version_dirs = os.listdir(cur_root)
        except FileNotFoundError:
            return
        for vd in version_dirs:
            if not vd.startswith("v="):
                continue
            version = vd.split("=", 1)[1]
            vpath = os.path.join(cur_root, vd)
            for bucket, bpath in self._bucket_dirs(vpath).items():
                if (version, bucket) not in live:
                    shutil.rmtree(bpath, ignore_errors=True)
            if not self._bucket_dirs(vpath):
                shutil.rmtree(vpath, ignore_errors=True)

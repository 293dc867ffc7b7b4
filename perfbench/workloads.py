"""The benchmark's workloads: ``headline``, ``cdc_replay`` and ``cdc_bulk``.

Each workload function takes a ``Run`` (see run.py) and returns a
``Result``. Set-up (input generation and warm-up) is timed into
``run.setup``; the timed region starts warm. With tracing on, the timed
region is followed by a traced repetition with the layer wrappers
installed and then one more untraced repetition; the traced wall time
over the mean of the two untraced ones, minus one, is
``trace.overhead_frac``.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

from . import gen, oracle
from .trace import spark_totals

#: The 26 registry entries of the headline pass, in execution order. Pinned
#: here so a change to the program cannot change the set being measured.
HEADLINE = (
    "scd2_build", "scd2_merge_incremental", "scd2_current_rows", "lookup_join",
    "agg_percentiles_by_type", "window_latest_event_per_user",
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_revenue_change", "asof_join_last_click",
    "range_join_clicks_before_purchase", "sessionize_events", "text_quality",
    "doc_fingerprint", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "neardup_cosine", "ann_topk_bruteforce", "ann_topk_ivf", "ann_topk_pq",
    "ann_topk_ivfpq", "multimodal_image_neardup", "text_ppl_ccnet",
    "window_running_spend", "rollup_events",
)
PKG = "architrave_project_apache_nifi_spark"
#: Expected seconds of one warm headline pass (4 cores); sizes the timed region.
PASS_S = 10.0
#: Fewest timed headline passes: the median needs a middle pass.
MIN_PASSES = 3


@dataclass
class Result:
    passes: list[float] = field(default_factory=list)  # seconds per timed pass
    ops: list[float] = field(default_factory=list)  # seconds per query / micro-batch
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)  # traced run only
    extra: dict = field(default_factory=dict)  # artifact only


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _patch_load(run) -> None:
    """Wrap ``tables.load`` in every engine module that imported it."""
    import sys

    from architrave_project_apache_nifi_spark import tables

    fn = tables.load
    for name, mod in list(sys.modules.items()):
        if name == PKG or name.startswith(PKG + "."):
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    run.tracer.patch(mod, attr, "tables.load")


# ---------------------------------------------------------------------------
# headline
# ---------------------------------------------------------------------------

def headline(run) -> Result:
    """The 26 headline registry entries over generated sf0.01-sized tables,
    each materialized through the noop sink, in ``run.seconds / PASS_S``
    passes (at least ``MIN_PASSES``)."""
    from architrave_project_apache_nifi_spark.queries import REGISTRY

    spark, res = run.spark, Result()
    sf = os.path.join(run.work, "sf")
    with run.setup("generate"):
        res.extra["table_rows"] = gen.headline_tables(sf, run.seed)
    # warm-up doubles as the correctness gate: every entry is collected
    # once and compared with its DuckDB oracle (rows-only entries just
    # run); the IVF/PQ indexes the ANN entries memoize are built here.
    # In a cold JVM an entry's planning, code generation and compilation
    # run mostly on one thread, so entries run on all cores but one at once.
    with run.setup("session.warmup"):
        failures = oracle.headline_mismatches(
            spark, run.root, sf, list(HEADLINE),
            lambda name: run.tracer.span("warmup.query", entry=name),
            threads=max(1, len(os.sched_getaffinity(0)) - 1),
        )
    res.attempted += len(HEADLINE)
    res.failures += failures

    def one_pass(traced: bool) -> tuple[float, dict[str, float]]:
        st = spark.sparkContext.statusTracker()
        per: dict[str, float] = {}
        t_pass = time.perf_counter()
        for name in HEADLINE:
            fn = REGISTRY[name].fn
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                if traced:
                    _traced_query(run, st, name, fn, sf)
                else:
                    _noop(fn(spark, sf))
            except Exception as exc:  # noqa: BLE001 — counted as a failed operation
                res.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
                continue
            per[name] = time.perf_counter() - t0
        return time.perf_counter() - t_pass, per

    per_query: dict[str, list[float]] = {n: [] for n in HEADLINE}
    # the traced run reports no pass time: one untraced pass is its baseline
    n_passes = 1 if run.tracer.enabled else max(MIN_PASSES, round(run.seconds / PASS_S))
    for _ in range(n_passes):
        wall, per = one_pass(False)
        res.passes.append(wall)
        for n, s in per.items():
            per_query[n].append(s)
        res.ops += per.values()
    res.extra["query_s"] = per_query

    if run.tracer.enabled:
        _patch_load(run)
        try:
            with run.tracer.span("pass") as p:
                traced_wall, per = one_pass(True)
        finally:
            run.tracer.unpatch()
        after, _ = one_pass(False)
        # untraced passes on both sides cancel the JVM's continuing warm-up
        ratio = traced_wall / ((res.passes[-1] + after) / 2)
        res.layers.update(_headline_layers(run, per, p, ratio))
    return res


def _traced_query(run, st, name: str, fn, sf: str) -> None:
    spark, tr = run.spark, run.tracer
    group = f"perfbench.{name}"
    spark.sparkContext.setJobGroup(group, name)
    try:
        with tr.span("query", entry=name) as rec:
            with tr.span("queries.build"):
                df = fn(spark, sf)
            with tr.span("queries.plan"):
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                ms = 0
                for phase in ("parsing", "analysis", "optimization", "planning"):
                    opt = phases.get(phase)
                    if opt.isDefined():
                        ms += opt.get().durationMs()
                rec["plan_phases_s"] = ms / 1000.0
            with tr.span("queries.exec"):
                _noop(df)
        rec["jobs"] = len(st.getJobIdsForGroup(group))
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.sparkContext.setLocalProperty("spark.job.description", None)


def _headline_layers(run, per: dict[str, float], pass_span: dict, ratio: float) -> dict:
    tr = run.tracer
    log = run.event_log()
    loads = tr.of("tables.load")
    out = {
        "tables.load_calls": float(len(loads)),
        "tables.load_s": tr.total("tables.load"),
        "tables.load_jobs": spark_totals(log, [(s["start"], s["end"]) for s in loads])["spark.jobs"],
        "queries.build_s": tr.total("queries.build"),
        "queries.plan_s": sum(s.get("plan_phases_s", 0.0) for s in tr.of("query")),
        "queries.exec_s": tr.total("queries.exec"),
        "trace.overhead_frac": ratio - 1.0,
    }
    out.update(spark_totals(log, [(pass_span["start"], pass_span["end"])]))
    per_query_spark = {}
    for s in tr.of("query"):
        name = s["entry"]
        out[f"query.{name}.s"] = per.get(name, 0.0)
        out[f"query.{name}.jobs"] = float(s.get("jobs", 0))
        per_query_spark[name] = spark_totals(log, [(s["start"], s["end"])])
    run.artifact["per_query_spark"] = per_query_spark
    return out


# ---------------------------------------------------------------------------
# CDC stream workloads
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class CdcSpec:
    shape: gen.CdcShape
    warm_files: int  # micro-batches in the warm-up stream
    batch_s: float  # expected warm seconds per micro-batch (sizes the timed stream)
    handle_deletes: bool
    late_policy: str
    compact_every: int | None
    read_set: bool  # run the fixed post-stream read set


REPLAY = CdcSpec(gen.HOT, warm_files=3, batch_s=2.3, handle_deletes=False,
                 late_policy="compat", compact_every=None, read_set=False)
BULK = CdcSpec(gen.BULK, warm_files=3, batch_s=4.5, handle_deletes=True,
               late_policy="quarantine", compact_every=4, read_set=True)


def cdc_replay(run) -> Result:
    """Hot keys, one small file per micro-batch: fixed per-batch overhead."""
    return _cdc(run, REPLAY)


def cdc_bulk(run) -> Result:
    """Zipf-skewed bulk updates with deletes, late events and compaction,
    then the fixed read set over the final store."""
    return _cdc(run, BULK)


def _progress(q) -> list[dict]:
    """Progress of the query's micro-batches that read data."""
    return [{"durationMs": p.durationMs} for p in q.recentProgress if p.numInputRows > 0]


def _cdc(run, spec: CdcSpec) -> Result:
    from architrave_project_apache_nifi_spark.sources import cdc
    from architrave_project_apache_nifi_spark.streaming.scd2_stream import run_scd2_stream_from

    spark, res, tr = run.spark, Result(), run.tracer
    src, inp = os.path.join(run.work, "gen"), os.path.join(run.work, "in")
    hist, ckpt = os.path.join(run.work, "hist"), os.path.join(run.work, "ckpt")
    os.makedirs(inp)
    timed_files = max(1, math.ceil(run.seconds / spec.batch_s))
    rounds = 3 if tr.enabled else 1  # traced: untraced, traced, untraced
    with run.setup("generate"):
        load = gen.cdc_files(src, spec.shape, spec.warm_files + rounds * timed_files, run.seed)
    res.extra["cdc"] = {"events": load.events, "input_bytes": load.input_bytes,
                        "deletes": load.deletes, "late": len(load.late_seq)}

    def stream(files: list[str]) -> tuple[float, list[dict], float]:
        """Move ``files`` into the input directory, run the query over them
        to termination; returns wall seconds, batch progress and events/s."""
        events = 0
        for f in files:  # rename keeps the mtime that orders the file stream
            with open(f, "rb") as fh:
                events += sum(1 for _ in fh)
            os.rename(f, os.path.join(inp, os.path.basename(f)))
        t0 = time.perf_counter()
        q = run_scd2_stream_from(
            spark, cdc.read_envelope_stream(spark, inp, max_files_per_trigger=1),
            hist, ckpt, handle_deletes=spec.handle_deletes,
            compact_every=spec.compact_every, late_policy=spec.late_policy,
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        wall = time.perf_counter() - t0
        prog = _progress(q)
        res.attempted += len(prog)
        if len(prog) != len(files):
            res.failures.append(f"stream ran {len(prog)} micro-batches for {len(files)} files")
        return wall, prog, events / wall

    files = iter(load.files)

    def take() -> list[str]:
        return [next(files) for _ in range(timed_files)]

    with run.setup("session.warmup"):
        stream([next(files) for _ in range(spec.warm_files)])
    wall, prog, res.extra["rows_per_s"] = stream(take())
    res.passes.append(wall)
    res.ops += [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog]

    if tr.enabled:
        from architrave_project_apache_nifi_spark.streaming.history_store import Scd2Store

        traced = take()
        traced_bytes = sum(os.path.getsize(f) for f in traced)
        acct = _StoreAccounting(run, Scd2Store)
        _patch_load(run)
        acct.install()
        try:
            with tr.span("stream") as s_span:
                t_wall, t_prog, t_rate = stream(traced)
        finally:
            tr.unpatch()
        after, _, _ = stream(take())
        res.layers.update(_stream_layers(run, t_prog, s_span, t_rate))
        res.layers.update(acct.metrics(traced_bytes))
        res.layers.update({
            # untraced streams on both sides cancel the JVM's continuing warm-up
            "trace.overhead_frac": t_wall / ((wall + after) / 2) - 1.0,
            "cdc.generate_s": run.setup_s_of("generate"),
            "cdc.input_bytes": float(load.input_bytes),
            "cdc.events": float(load.events),
        })

    _cdc_checks(run, spec, load, hist, inp, res)
    return res


def _stream_layers(run, prog: list[dict], span: dict, rows_per_s: float) -> dict:
    def tot(k):
        return sum(p["durationMs"].get(k, 0) for p in prog) / 1000.0

    def med_ms(k):
        return float(statistics.median(p["durationMs"].get(k, 0) for p in prog)) if prog else 0.0

    log = run.event_log()
    sp = spark_totals(log, [(span["start"], span["end"])])
    out = {
        "stream.batches": float(len(prog)),
        "stream.trigger_s": tot("triggerExecution"),
        "stream.add_batch_s": tot("addBatch"),
        "stream.overhead_s": tot("triggerExecution") - tot("addBatch"),
        "stream.query_planning_ms": med_ms("queryPlanning"),
        "stream.wal_commit_ms": med_ms("walCommit"),
        "stream.commit_offsets_ms": med_ms("commitOffsets"),
        "stream.get_batch_ms": med_ms("getBatch"),
        "stream.latest_offset_ms": med_ms("latestOffset"),
        "stream.jobs_per_batch": sp["spark.jobs"] / max(1, len(prog)),
        "stream.rows_per_s": rows_per_s,
    }
    out.update(sp)
    return out


class _StoreAccounting:
    """Wrappers around ``Scd2Store``'s public methods that record spans and
    what each commit or compaction wrote (new parquet files under the
    store directory, their bytes, and their rows by ``is_current``)."""

    def __init__(self, run, store_cls) -> None:
        self.run, self.cls = run, store_cls
        self.manifest = store_cls.manifest  # unwrapped, for the hooks
        self.c = {k: 0.0 for k in (
            "bytes", "files", "rows_changed", "current_rewritten", "touched", "buckets")}
        self.max_valid_from = None

    def install(self) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tr, cls = self.run.tracer, self.cls
        existing = _parquet_files(os.path.join(self.run.work, "hist"))
        if existing:
            self.max_valid_from = max(
                (pc.max(pq.read_table(f, columns=["valid_from"])["valid_from"]) for f in existing),
                key=lambda m: m.as_py(),
            )
        tr.patch(cls, "commit", "store.commit", before=self._before, after=self._after_commit)
        tr.patch(cls, "compact_closed", "store.compact", before=self._before, after=self._after_compact)
        tr.patch(cls, "read_current", "store.read_current")
        tr.patch(cls, "read_all", "store.read_all")
        tr.patch(cls, "manifest", "store.manifest")

    def _before(self, args, kwargs):
        store = args[0]
        m = self.manifest(store) if store.exists() else None
        return m, _parquet_files(store.path)

    def _written(self, store, state) -> list[str]:
        before = state[1]
        return [f for f in _parquet_files(store.path) if f not in before]

    def _after_commit(self, res, args, kwargs, state) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        store = args[0]
        new = self._written(store, state)
        self.c["files"] += len(new)
        self.c["bytes"] += sum(os.path.getsize(f) for f in new)
        prev_max = self.max_valid_from
        for f in new:
            t = pq.read_table(f, columns=["is_current", "valid_from"])
            if t.num_rows == 0:
                continue
            self.c["current_rewritten"] += pc.sum(pc.equal(t["is_current"], "Y")).as_py() or 0
            self.c["rows_changed"] += pc.sum(pc.greater(t["valid_from"], prev_max)).as_py() or 0
            m = pc.max(t["valid_from"])
            if self.max_valid_from is None or m.as_py() > self.max_valid_from.as_py():
                self.max_valid_from = m
        old, new_m = state[0] or {}, self.manifest(store)
        refs_old = old.get("current_buckets", {})
        refs_new = new_m.get("current_buckets", {})
        changed = {b for b in set(refs_old) | set(refs_new) if refs_old.get(b) != refs_new.get(b)}
        self.c["touched"] += len(changed)
        self.c["buckets"] += new_m.get("n_buckets", 0)

    def _after_compact(self, res, args, kwargs, state) -> None:
        new = self._written(args[0], state)
        self.c["files"] += len(new)
        self.c["bytes"] += sum(os.path.getsize(f) for f in new)

    def metrics(self, input_bytes: int) -> dict:
        tr, c = self.run.tracer, self.c
        compacts = tr.of("store.compact")
        store_path = os.path.join(self.run.work, "hist")
        live = _parquet_files(store_path)
        return {
            "store.commit_calls": float(len(tr.of("store.commit"))),
            "store.commit_s": tr.total("store.commit"),
            "store.read_current_s": tr.total("store.read_current"),
            "store.manifest_reads": tr.counts.get("store.manifest.calls", 0.0),
            "store.compactions": float(sum(1 for s in compacts if s.get("result"))),
            "store.compact_s": tr.total("store.compact"),
            "store.bytes_written": c["bytes"],
            "store.files_written": c["files"],
            "store.write_amp": c["bytes"] / input_bytes if input_bytes else 0.0,
            "store.rows_changed": c["rows_changed"],
            "store.current_rows_rewritten": c["current_rewritten"],
            "store.rewrite_ratio": c["current_rewritten"] / c["rows_changed"] if c["rows_changed"] else 0.0,
            "store.touched_buckets_frac": c["touched"] / c["buckets"] if c["buckets"] else 0.0,
            "store.live_files": float(len(live)),
            "store.live_bytes": float(sum(os.path.getsize(f) for f in live)),
        }


def _parquet_files(root: str) -> set[str]:
    out = set()
    for d, _, names in os.walk(root):
        out.update(os.path.join(d, n) for n in names if n.endswith(".parquet"))
    return out


def _cdc_checks(run, spec: CdcSpec, load: gen.CdcLoad, hist: str, inp: str, res: Result) -> None:
    """The read set, then the oracle checks. By now the stream has
    consumed every generated file."""
    import pyarrow.parquet as pq

    from architrave_project_apache_nifi_spark.operators.scd2 import scd2_as_of
    from architrave_project_apache_nifi_spark.streaming.history_store import Scd2Store

    spark, tr = run.spark, run.tracer
    store = Scd2Store(hist)
    points = [_as_of_point(load, q) for q in (0.25, 0.5, 0.75)] if spec.read_set else []
    if spec.read_set:
        t0 = time.perf_counter()
        with tr.span("read.all"):
            _noop(store.read_all(spark))
        with tr.span("read.as_of"):
            for p in points:
                _noop(scd2_as_of(store.read_all(spark), p))
        with tr.span("read.current"):
            _noop(store.read_current(spark))
        res.extra["history_read_s"] = time.perf_counter() - t0
        if tr.enabled:
            res.layers.update({
                "read.set_s": res.extra["history_read_s"],
                "read.all_s": tr.total("read.all"),
                "read.as_of_s": tr.total("read.as_of"),
                "read.current_s": tr.total("read.current"),
            })

    con = oracle.connect()
    consumed = sorted(os.path.join(inp, f) for f in os.listdir(inp))
    oracle.scd2_expected(con, consumed, spec.handle_deletes, load.late_seq)
    actual = store.read_all(spark).toArrow()
    res.attempted += 1
    bad = oracle.history_mismatches(con, actual)
    if bad:
        res.failures.append(f"store history differs from the DuckDB oracle in {bad} rows")
    got = {"all": actual.num_rows, "current": store.read_current(spark).count()}
    for p in points:
        got[f"as_of {p}"] = scd2_as_of(store.read_all(spark), p).count()
    for k, v in oracle.expected_counts(con, points).items():
        res.attempted += 1
        if got[k] != v:
            res.failures.append(f"{k}: engine read {got[k]} rows, oracle {v}")
    con.close()

    qdir = hist + "_quarantine"
    quarantined = (
        pq.ParquetDataset(qdir).read(columns=["cdc_sequence_id"])["cdc_sequence_id"].to_pylist()
        if os.path.isdir(qdir) else []
    )
    res.attempted += 1
    if sorted(quarantined) != sorted(load.late_seq):
        res.failures.append(
            f"quarantine holds {len(quarantined)} rows, generator injected {len(load.late_seq)} late events")
    live_bytes = sum(os.path.getsize(f) for f in _parquet_files(hist))
    res.extra["store_bytes_per_event"] = live_bytes / load.events
    if tr.enabled:
        res.layers["store.quarantined_rows"] = float(len(quarantined))
        res.layers["store.bytes_per_event"] = res.extra["store_bytes_per_event"]


def _as_of_point(load: gen.CdcLoad, q: float) -> str:
    import datetime as dt

    ms = gen.BASE_MS + int((load.max_ts_ms - gen.BASE_MS) * q)
    return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")


WORKLOADS = {"headline": headline, "cdc_replay": cdc_replay, "cdc_bulk": cdc_bulk}

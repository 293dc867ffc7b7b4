"""Benchmark entry point.

    python3 perfbench/run.py --workload {headline,cdc_replay,cdc_bulk} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Prints one JSON object as the last line of
standard output: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Exits non-zero when any output differs from its oracle
or any operation fails. The full record of the run (host, heap, spans,
per-query numbers) goes to ``.perfbench_out/`` under the repository root.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import contextmanager  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT]

from perfbench import trace, workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_s_geomean": "s", "peak_rss_mb": "MB",
}


def layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


class Run:
    """What a workload needs: session, seed, time budget, scratch space,
    tracer, and the set-up clock."""

    def __init__(self, args, work: str) -> None:
        self.seed, self.seconds, self.work, self.root = args.seed, args.seconds, work, ROOT
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
        self.setup_s: dict[str, float] = {}
        self.artifact: dict = {}
        self.spark = None
        self.imports_s = 0.0

    @contextmanager
    def setup(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.setup_s[name] = self.setup_s.get(name, 0.0) + time.perf_counter() - t0

    def setup_s_of(self, name: str) -> float:
        return self.setup_s.get(name, 0.0)

    def event_log(self) -> dict:
        # the listener bus is asynchronous: drain it so every finished job
        # is in the log (job and stage ends flush the log writer)
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return trace.read_event_log(os.path.join(self.work, "eventlog"))


def build_session(run: Run, trace_on: bool):
    """``local[<cpus>]`` with a fixed heap of an eighth of host memory (at most 8g),
    the engine's own conf, scratch and temp space inside ``run.work`` and,
    when tracing, an uncompressed event log."""
    from pyspark.sql import SparkSession

    from architrave_project_apache_nifi_spark.session import apply_engine_conf

    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # both JVMs (the launcher and Spark's): temp files in the scratch
    # directory, no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the engine from the checkout, wherever it is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(8192, trace.mem_total_mb() // 8)
    b = apply_engine_conf(
        SparkSession.builder.appName("perfbench").master(f"local[{cpus}]")
    )
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run.work, "local"),
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m",
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
    }
    if trace_on:
        os.makedirs(os.path.join(run.work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run.work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    run.artifact["session"] = {"cpus": cpus, "heap_mb": heap_mb, "master": f"local[{cpus}]"}
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it (p50 at
    the least)."""
    return max(50, math.floor(100 * (1 - 10 / n))) if n else 50


def percentile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work)
    run.imports_s = time.perf_counter() - T_START  # interpreter start and imports
    run.artifact.update({"args": vars(args), "host_start": trace.host_telemetry()})
    try:
        with trace.RssSampler() as rss:
            with run.setup("session.start"):
                run.spark = build_session(run, bool(args.trace))
            try:
                with run.tracer.span("workload") as root:
                    run.tracer.root = root["id"]
                    res = workloads.WORKLOADS[args.workload](run)
            finally:
                stop_session(run.spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's scratch is still there
            pass
    setup_s = run.imports_s + sum(run.setup_s.values())

    n = len(res.ops)
    q = tail_percentile(n)
    if args.trace:
        units = layer_units()
        metrics = {k: 0.0 for k in units}
        metrics.update({
            "session.start_s": run.setup_s_of("session.start"),
            "session.warmup_s": run.setup_s_of("session.warmup"),
        })
        metrics.update(res.layers)
        unknown = sorted(set(metrics) - set(units))
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
    else:
        units = E2E_UNITS
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(res.passes),
            "op_s_geomean": math.exp(statistics.fmean(math.log(x) for x in res.ops)),
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
    failed = len(res.failures)
    out = {
        "correct": failed == 0,
        "attempted": res.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    run.artifact.update({
        "result": out, "failures": res.failures, "setup_s": run.setup_s,
        "op_s_p50": statistics.median(res.ops),
        "tail": {"percentile": q, "n": n, "s": percentile(res.ops, q)}, "passes": res.passes, "ops": res.ops,
        "peak_rss_mb": rss.peak_bytes / 2**20, "peak_rss_by_process": rss.peak_detail,
        "host_end": trace.host_telemetry(),
        **res.extra,
    })
    if args.trace:
        run.artifact["spans"] = run.tracer.spans
        run.artifact["self_s"] = run.tracer.self_times()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(run.artifact, fh, indent=1, default=str)
    for f in res.failures:
        print(f"FAILED: {f}", file=sys.stderr)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

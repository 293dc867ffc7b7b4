"""The examples/ walkthroughs are living documentation — run them.

They are user-facing scripts, not library code, so they run as scripts:
all of them in ONE subprocess (one JVM start instead of one per
example), each through ``runpy`` as ``__main__`` with its own stdout
captured and its own exception caught. A broken import, renamed
operator or changed signature fails that example's case here instead of
rotting silently, and leaves the other examples' cases alone.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.join(os.path.dirname(__file__), "..")

EXAMPLES = [
    ("examples/cdc_to_scd2.py", "streamed history rows: 5"),
    ("examples/clean_corpus.py", "sampled"),
    ("examples/similarity_search.py", "IVF probe"),
    ("examples/assemble_dataset.py", "oversize routed to chunking"),
    ("examples/tokenizer_dataset.py", "byte-level recount:"),
    ("examples/monitoring_pipeline.py", "rollup equals recompute over accepted batches: True"),
    ("examples/late_events.py", "invariant violations after splice: 0"),
    ("examples/hot_key_windows.py", "scd2_build_skewed equals scd2_build: True"),
    ("examples/multimodal_features.py", "perceptual near-dup: kept 10/40 variant images"),
]


def _run_all(out_path: str, scripts: list[str]) -> None:
    """Run each script as ``__main__`` in this process, then stop the
    session it left active, so the next one builds its own (the JVM stays
    up). Results are rewritten after every script: if the process dies,
    the scripts that finished keep theirs."""
    import contextlib
    import io
    import runpy
    import traceback

    from pyspark.sql import SparkSession

    results: dict[str, dict] = {}
    for script in scripts:
        out, error = io.StringIO(), None
        try:
            with contextlib.redirect_stdout(out):
                runpy.run_path(script, run_name="__main__")
        except SystemExit as exc:
            if exc.code not in (None, 0):  # the exit status a subprocess would give
                error = traceback.format_exc()
        except BaseException:
            error = traceback.format_exc()
        finally:
            active = SparkSession.getActiveSession()
            if active is not None:
                active.stop()
        results[script] = {"stdout": out.getvalue(), "error": error}
        with open(out_path, "w") as fh:
            json.dump(results, fh)


@pytest.fixture(scope="module")
def example_runs(tmp_path_factory) -> dict[str, dict]:
    out = tmp_path_factory.mktemp("examples") / "runs.json"
    try:
        stderr = subprocess.run(
            [sys.executable, os.path.abspath(__file__), str(out)]
            + [script for script, _ in EXAMPLES],
            cwd=REPO,
            # the test JVM's heap (conftest.py), not the engine's 48g default
            env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "4g"},
            capture_output=True,
            text=True,
            timeout=1200,
        ).stderr
    except subprocess.TimeoutExpired as exc:
        stderr = f"timed out after {exc.timeout} s\n{exc.stderr or ''}"
    runs = json.loads(out.read_text()) if out.exists() else {}
    # a script the process never finished fails with the process's stderr
    unfinished = {"stdout": "", "error": str(stderr)[-2000:]}
    return {script: runs.get(script, unfinished) for script, _ in EXAMPLES}


@pytest.mark.parametrize("script, expect", EXAMPLES)
def test_example_runs(example_runs, script, expect):
    run = example_runs[script]
    assert run["error"] is None, run["error"][-2000:]
    assert expect in run["stdout"], run["stdout"][-2000:]


if __name__ == "__main__":
    _run_all(sys.argv[1], sys.argv[2:])

"""Benchmark entry point.

    python3 perfbench/run.py --workload monthly_load --seed 1 --seconds 30 --trace 0

Runs one workload (``monthly_load`` or ``registry_heavy``) from the root
of a source checkout, checks every output, and prints two JSON lines:
the run conditions with the workload's named results, then the result
line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, measured untraced;
with ``--trace 1`` the same work runs traced and the metrics are the
per-layer ones. Exits 1 when any check fails or any request fails.

Each workload does a fixed amount of work, so the request mix does not
depend on how fast the program is. ``--seconds`` is recorded with the
result; the work is sized to about that much timed request time.

Everything the run writes goes under ``.perfbench/<workload>-t<trace>/``
in the checkout; only the span file is kept after the run.
See NOTES.md for the workloads, metrics and run conditions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("monthly_load", "registry_heavy")
HEAP = "4g"  # fixed, so every run has the same heap on a shared box


def _loadavg() -> float:
    return os.getloadavg()[0]


def _cpu_probe_s() -> float:
    """Seconds for a fixed pure-Python loop: how fast one core of the
    machine is right now, recorded so that slow runs can be told apart
    from a slow machine."""
    t0 = time.perf_counter()
    total = 0
    for i in range(2_000_000):
        total += i
    return time.perf_counter() - t0


def _prepare_env(work: Path) -> None:
    """Keep Spark, the JVM and Python temp files inside the run directory
    and pin the JVM heap; must run before pyspark launches the JVM."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP


def _drop_inputs(work: Path) -> None:
    """Remove the run's generated data and Spark scratch; keep the files
    at the top of the run directory (the span file)."""
    for child in work.iterdir():
        if child.is_dir():
            shutil.rmtree(child, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    import autosinapi_spark  # noqa: F401  (fails outside a source checkout)
    from common import LAYER_METRICS, Session, fresh_dir

    work = fresh_dir(ROOT / ".perfbench" / f"{args.workload}-t{args.trace}")
    _prepare_env(work)
    load_before, probe_before = _loadavg(), _cpu_probe_s()
    if args.workload == "monthly_load":
        from monthly_load import run_monthly_load as run_workload
    else:
        from registry_heavy import run_registry_heavy as run_workload
    session = Session(work)
    try:
        run = run_workload(args, work, session, bool(args.trace))
        run.layers["session.start_s"] = session.first_start_s
        run.layers["session.jvm_peak_rss_mb"] = session.jvm_peak_rss_mb()
    finally:
        t0 = time.perf_counter()
        session.close()
        close_s = time.perf_counter() - t0
        _drop_inputs(work)
    load_after, probe_after = _loadavg(), _cpu_probe_s()

    attempted = len(run.latencies_ms)
    if args.trace:
        metrics = {m: {"value": run.layers.get(m, 0), "unit": u} for m, u in LAYER_METRICS.items()}
    else:
        metrics = {
            "setup_s": {"value": statistics.median(run.setups_s), "unit": "s"},
            "p50_ms": {"value": statistics.median(run.latencies_ms), "unit": "ms"},
            "req_per_s": {"value": attempted / run.timed_s, "unit": "1/s"},
        }
    correct = not run.problems and run.failed == 0 and attempted > 0
    conditions = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "jvm_heap": HEAP, "loadavg_1m_before": load_before,
        "loadavg_1m_after": load_after, "cpu_probe_s_before": probe_before,
        "cpu_probe_s_after": probe_after, "python": platform.python_version(),
        "setups_s": run.setups_s, "close_s": close_s,
        "failed_frac": run.failed / max(1, attempted),
        "latencies_ms": run.latencies_ms, **run.detail,
    }
    if not args.trace:
        conditions["session.start_s"] = run.layers.get("session.start_s")
    print(json.dumps({"conditions": conditions, "problems": run.problems[:20]}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": run.failed, "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
